"""Persistent index segments — the 100TB-scale layout.

Replaces the reference's MongoDB `inverted_index` collection
(indexer/MongoDBIndexStore.java:230-324) with a doc-sharded,
term-sorted, block-compressed Parquet layout:

    out/
      docmap/                 (doc_id, doc_no, shard, url, title,
                               description, total_words, popularity_score)
      docs_content/           (doc_no, content, links) — enrichment only
      postings/shard=S/       (term, min_doc_no, max_doc_no, n_docs,
                               docs_bin, tfs_bin, dls_bin, max_tfnorm)
                              sorted by (term, min_doc_no) within files
      positions/shard=S/      (term, doc_no, n_title/desc/body,
                               pos_title/desc/body_bin) — per-field
                               position lists as delta-gap varint
                               binary (decode: codecs.decode_position_lists)
      terms/                  (term, df, n_blocks)  — the dictionary
      meta.json               n_docs, avgdl, k1, b, block_size,
                              codec ("varint", the only block format)
      manifest/shard_K.json   per-shard lineage + metrics rows
      docs_tokens/shard=S/    per-doc token arrays: the build's resume
                              cache (a streamed segment drops it once
                              every shard is done)

One writer: ``build_segments`` (batch build, and each streamed
micro-batch) and ``_merge_segments`` (compaction of a serving family)
differ only in where stage 0 and the positions frame come from — the
build tokenizes pages, the merge moves the family's already-encoded
positions rows to their new doc numbers; both hand that frame to one
shard writer (positions -> blocks derived from the written positions
-> postings -> manifest rows) and share the terms-dictionary and
meta.json writers, so the two produce the same layout.

Design decisions (scale rationale):

* **Doc-range sharding.** Every term's postings for one doc range live
  in the same shard, so per-shard top-k (TAAT or block-max WAND) is
  partition-local and the global answer is a k-way merge of shard
  top-ks — the classic document-sharded search architecture. Shards
  also bound skew: a term's per-shard group is <= shard_size docs, so
  the blocks groupBy never sees a corpus-sized hot key.
* **Dense doc numbering** by global doc_id rank, assigned with the
  two-phase count/offset pattern (no single-partition window, no
  driver collect of data rows) — delta gaps stay small and blocks
  compress to ~1 byte/doc.
* **Block compression**: delta-gap + varint blocks of 128 with
  per-block max_tfnorm (BM25 upper bound) for block-max pruning. One
  block format: readers reject a meta.json naming any other codec.
* **Resumable build**: shards build in groups; each group commit
  appends per-shard manifest rows (atomic rename). Resume anti-joins
  pending shards against the manifest (north_rule checkpoint/lineage).

Reference parity notes: doc_id = sha2(url); postings carry per-field
positions in the positions table; tf/weight semantics are those of
InvertedIndex.Posting (java:216-281).
"""

from __future__ import annotations

import json
import math
import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nadry_spark.operators.codecs import bm25_tfnorm, encode_posting_block

DEFAULT_BLOCK_SIZE = 128
DEFAULT_K1 = 1.2
DEFAULT_B = 0.75

BLOCKS_SCHEMA = (
    "shard int, term string, min_doc_no long, max_doc_no long, n_docs int, "
    "docs_bin binary, tfs_bin binary, dls_bin binary, max_tfnorm double"
)


# ---------------------------------------------------------------------------
# doc numbering
# ---------------------------------------------------------------------------


def assign_doc_numbers(
    docs: DataFrame,
    num_partitions: int | None = None,
    assume_partitioned: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Add a dense, deterministic 0-based doc_no.

    Returns ``(numbered, persisted)``: the numbered frame plus the
    persisted upstream handle the caller must ``unpersist()`` once its
    downstream writes complete (an explicit tuple — a dynamic attribute
    on the DataFrame would silently vanish after any transformation and
    leak the cache in long-lived sessions).

    Two-phase: hash-partition by doc_id (deterministic, and unlike
    repartitionByRange there is NO sampling job that would execute the
    expensive extraction UDF twice), count per partition (P tiny rows
    to the driver), then offset + per-partition sequence ordered by
    doc_id. The sequence comes from sortWithinPartitions +
    monotonically_increasing_id (partition id in the upper 31 bits,
    row number within the partition in the lower 33) — all JVM, ZERO
    additional exchange. (The obvious Window.partitionBy(_pid)
    formulation inserts an ENSURE_REQUIREMENTS hash exchange of the
    whole corpus because Spark cannot see that _pid already IS the
    physical partitioning.)

    assume_partitioned=True skips the doc_id repartition for inputs
    that are already deterministically partitioned (e.g. the extraction
    output, hash-partitioned by url) — saves a full-corpus shuffle of
    the extracted representation.

    doc_no is dense and stable for a given corpus + partitioning; it
    does not need to equal the global doc_id rank for delta compression
    to work.
    """
    spark = docs.sparkSession
    if assume_partitioned:
        parted = docs
    else:
        p = num_partitions or max(2, spark.sparkContext.defaultParallelism)
        parted = docs.repartition(p, "doc_id")
    parted = parted.withColumn("_pid", F.spark_partition_id()).persist()
    counts = {r["_pid"]: r["cnt"] for r in parted.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    items: list = []
    for pid, off in offsets.items():
        items.extend([F.lit(pid), F.lit(off)])
    offmap = F.create_map(*items) if items else F.create_map()
    seq = F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1))
    out = (
        parted.sortWithinPartitions("doc_id")
        .withColumn("_mid", F.monotonically_increasing_id())
        .withColumn(
            "doc_no", (F.element_at(offmap, F.col("_pid")) + seq).cast("long")
        )
        .drop("_pid", "_mid")
    )
    return out, parted


# ---------------------------------------------------------------------------
# manifest
# ---------------------------------------------------------------------------


def _manifest_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "manifest")


def read_manifest(out_dir: str) -> dict[int, dict]:
    mdir = _manifest_dir(out_dir)
    entries: dict[int, dict] = {}
    if not os.path.isdir(mdir):
        return entries
    for fn in os.listdir(mdir):
        if fn.startswith("shard_") and fn.endswith(".json"):
            with open(os.path.join(mdir, fn)) as f:
                e = json.load(f)
            entries[e["shard"]] = e
    return entries


def _write_json(path: str, obj) -> None:
    """Replace a JSON file atomically (write tmp + rename): readers see
    the old content or the new, never a partial file."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def write_manifest_entry(out_dir: str, entry: dict) -> None:
    """Atomic per-shard manifest commit."""
    mdir = _manifest_dir(out_dir)
    os.makedirs(mdir, exist_ok=True)
    _write_json(os.path.join(mdir, f"shard_{entry['shard']}.json"), entry)


# ---------------------------------------------------------------------------
# build
# ---------------------------------------------------------------------------


def _encode_partition_frame(
    pdf: pd.DataFrame, avgdl: float, k1: float, b: float, block_size: int,
) -> pd.DataFrame:
    """Vectorized block encoding of a (shard, term, doc_no)-sorted frame.

    One pass: group/block boundaries via numpy, delta gaps reset at
    block starts, ONE varint encode for the whole frame, per-block byte
    slices from the value offsets, per-block maxima via reduceat — no
    per-posting Python, ~O(n_blocks) cheap slice ops only.
    """
    from nadry_spark.operators.codecs import varint_encode_with_offsets

    n = len(pdf)
    if n == 0:
        return pd.DataFrame(
            columns=[
                "shard", "term", "min_doc_no", "max_doc_no", "n_docs",
                "docs_bin", "tfs_bin", "dls_bin", "max_tfnorm",
            ]
        )
    shard = pdf["shard"].to_numpy()
    term = pdf["term"].to_numpy(dtype=object)
    doc = pdf["doc_no"].to_numpy(dtype=np.int64)
    tf = pdf["tf"].to_numpy(dtype=np.int64)
    dl = pdf["dl"].to_numpy(dtype=np.int64)

    new_key = np.empty(n, dtype=bool)
    new_key[0] = True
    new_key[1:] = (shard[1:] != shard[:-1]) | (term[1:] != term[:-1])
    group_id = np.cumsum(new_key) - 1
    group_start = np.nonzero(new_key)[0]
    within = np.arange(n) - group_start[group_id]
    new_block = new_key | (within % block_size == 0)
    block_start = np.nonzero(new_block)[0]
    block_end = np.append(block_start[1:], n)

    gaps = doc.astype(np.uint64).copy()
    cont = ~new_block
    idx = np.nonzero(cont)[0]
    gaps[idx] = (doc[idx] - doc[idx - 1]).astype(np.uint64)

    tfn = bm25_tfnorm(tf, dl, avgdl, k1, b)
    max_tfn = np.maximum.reduceat(tfn, block_start)

    def slices(values):
        buf, off = varint_encode_with_offsets(values)
        starts = np.where(block_start > 0, off[block_start - 1], 0)
        ends = off[block_end - 1]
        return [buf[s:e] for s, e in zip(starts, ends)]

    return pd.DataFrame(
        {
            "shard": shard[block_start],
            "term": term[block_start],
            "min_doc_no": doc[block_start],
            "max_doc_no": doc[block_end - 1],
            "n_docs": (block_end - block_start).astype(np.int32),
            "docs_bin": slices(gaps),
            "tfs_bin": slices(tf.astype(np.uint64)),
            "dls_bin": slices(dl.astype(np.uint64)),
            "max_tfnorm": max_tfn,
        }
    )


# tf is NOT stored: it is exactly n_title + n_desc + n_body (derived
# JVM-side where needed); dl IS stored — it keeps the block encode
# shuffle-free (no docmap join inside the per-shard build)
POSITIONS_SCHEMA = (
    "shard int, term string, doc_no long, "
    "n_title int, n_desc int, n_body int, "
    "pos_title_bin binary, pos_desc_bin binary, pos_body_bin binary, "
    "dl int"
)

_POS_FIELDS = (
    ("title", "n_title", "pos_title_bin"),
    ("description", "n_desc", "pos_desc_bin"),
    ("body", "n_body", "pos_body_bin"),
)

_FIELD_COLS = (("tokens_title", 0), ("tokens_desc", 1), ("tokens_body", 2))


def _positions_fn(key, pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-shard LOCAL posting build (applyInPandas, no Spark shuffle):
    one shard's docs (token arrays) -> its POSITIONS_SCHEMA rows, one
    per (term, doc_no) in that order, with per-field position lists
    encoded delta-gap+varint (n_* counts + *_bin buffers) and dl.
    Per-shard input is bounded by shard_size docs by construction.
    """
    from nadry_spark.operators.codecs import encode_position_lists

    term_parts, doc_parts, field_parts, pos_parts = [], [], [], []
    for col, field_id in _FIELD_COLS:
        for doc_no, toks in zip(pdf["doc_no"], pdf[col]):
            n = len(toks)
            if n == 0:
                continue
            term_parts.append(np.asarray(toks, dtype=object))
            doc_parts.append(np.full(n, doc_no, dtype=np.int64))
            field_parts.append(np.full(n, field_id, dtype=np.int8))
            pos_parts.append(np.arange(n, dtype=np.int32))
    if not term_parts:
        return pd.DataFrame(
            columns=["shard", "term", "doc_no", "n_title", "n_desc", "n_body",
                     "pos_title_bin", "pos_desc_bin", "pos_body_bin", "dl"]
        )
    terms = np.concatenate(term_parts)
    doc_nos = np.concatenate(doc_parts)
    fields = np.concatenate(field_parts)
    poss = np.concatenate(pos_parts)

    # factorize terms once (sort=True -> codes follow lexicographic
    # order), then a single integer lexsort + run-splitting replaces the
    # pandas groupby(list) path (~6x faster per shard)
    term_codes, uniq_terms = pd.factorize(terms, sort=True)
    order = np.lexsort((poss, fields, doc_nos, term_codes))
    tc, dn, fd, ps = term_codes[order], doc_nos[order], fields[order], poss[order]

    n = len(tc)
    new_posting = np.empty(n, dtype=bool)
    new_posting[0] = True
    new_posting[1:] = (tc[1:] != tc[:-1]) | (dn[1:] != dn[:-1])
    posting_id = np.cumsum(new_posting) - 1
    n_postings = int(posting_id[-1]) + 1
    posting_start = np.nonzero(new_posting)[0]

    new_run = new_posting.copy()
    new_run[1:] |= fd[1:] != fd[:-1]
    run_start = np.nonzero(new_run)[0]
    run_posting = posting_id[run_start]
    run_field = fd[run_start]
    runs = np.split(ps, run_start[1:])

    empty = np.empty(0, dtype=np.int32)
    cols = [np.full(n_postings, None, dtype=object) for _ in range(3)]
    for arr, p, f in zip(runs, run_posting, run_field):
        cols[f][p] = arr
    for c in cols:
        mask = pd.isna(c)
        if mask.any():
            c[mask] = pd.Series([empty] * int(mask.sum()), dtype=object).values

    out_doc_nos = dn[posting_start]
    # dl lookup: doc_no -> total_words via a dict (docs per shard bounded)
    dl_map = dict(zip(pdf["doc_no"].to_numpy(), pdf["total_words"].to_numpy()))
    dl = np.fromiter((dl_map[d] for d in out_doc_nos), dtype=np.int32, count=n_postings)

    # compress per-field position lists: one delta+varint pass per field
    out = {
        "shard": np.full(n_postings, key[0], dtype=np.int32),
        "term": uniq_terms[tc[posting_start]],
        "doc_no": out_doc_nos,
    }
    for (name, ncol, bcol), c in zip(_POS_FIELDS, cols):
        bufs, counts = encode_position_lists(c)
        out[ncol] = counts.astype(np.int32)
        out[bcol] = bufs
    out["dl"] = dl
    return pd.DataFrame(out)


def _encode_blocks_stream(avgdl: float, k1: float, b: float, block_size: int):
    """mapInPandas encoder over (shard, term, doc_no)-sorted partitions.

    Carries the trailing (shard, term) run across Arrow batch boundaries
    so a term is never split mid-group. Replaces the per-(shard, term)
    applyInPandas (one Python call per term -> untenable at 100TB term
    cardinalities) with one linear scan per batch.
    """

    def encode(batches):
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if not len(pdf):
                continue
            last_shard = pdf["shard"].iloc[-1]
            last_term = pdf["term"].iloc[-1]
            tail_mask = (
                (pdf["shard"].to_numpy() == last_shard)
                & (pdf["term"].to_numpy(dtype=object) == last_term)
            )
            rev = tail_mask[::-1]
            run_len = len(pdf) if rev.all() else int(np.argmin(rev))
            head = pdf.iloc[: len(pdf) - run_len]
            carry = pdf.iloc[len(pdf) - run_len :]
            if len(head):
                yield _encode_partition_frame(head, avgdl, k1, b, block_size)
        if carry is not None and len(carry):
            yield _encode_partition_frame(carry, avgdl, k1, b, block_size)

    return encode


def _encode_blocks_fn(avgdl: float, k1: float, b: float, block_size: int):
    def encode(key, pdf: pd.DataFrame):
        shard, term = key
        pdf = pdf.sort_values("doc_no")
        doc_nos = pdf["doc_no"].to_numpy(dtype=np.uint64)
        tfs = pdf["tf"].to_numpy(dtype=np.uint64)
        dls = pdf["dl"].to_numpy(dtype=np.uint64)
        rows = []
        for start in range(0, len(doc_nos), block_size):
            end = start + block_size
            blk = encode_posting_block(doc_nos[start:end], tfs[start:end], dls[start:end])
            tfn = bm25_tfnorm(tfs[start:end], dls[start:end], avgdl, k1, b)
            rows.append(
                {
                    "shard": shard,
                    "term": term,
                    "min_doc_no": blk["min_doc_no"],
                    "max_doc_no": blk["max_doc_no"],
                    "n_docs": blk["n"],
                    "docs_bin": blk["docs_bin"],
                    "tfs_bin": blk["tfs_bin"],
                    "dls_bin": blk["dls_bin"],
                    "max_tfnorm": float(tfn.max()),
                }
            )
        return pd.DataFrame(rows)

    return encode


MAX_DOCS_PER_SHARD = 16_384


def derive_n_shards(n_docs: int, parallelism: int) -> int:
    """Shard count from corpus size: cap docs/shard (one applyInPandas
    task must hold one shard's token arrays + a shard_size float
    accumulator, so shard_size is bounded by worker memory, NOT left
    proportional to the corpus) and floor at the cluster parallelism
    so small corpora still use every core."""
    return max(parallelism, math.ceil(n_docs / MAX_DOCS_PER_SHARD))


def _segment_meta(
    spark: SparkSession, numbered: DataFrame, n_shards: int | None,
    block_size: int, k1: float, b: float,
) -> dict:
    """meta.json of a segment over a numbered doc frame: n_docs and
    avgdl (one job), the shard count (derived when None) and size, the
    scoring parameters and the block format."""
    stats = numbered.agg(
        F.count("*").alias("n_docs"), F.avg("total_words").alias("avgdl")
    ).collect()[0]
    n_docs = int(stats["n_docs"])
    if n_shards is None:
        n_shards = derive_n_shards(n_docs, spark.sparkContext.defaultParallelism)
    return {
        "n_docs": n_docs,
        "avgdl": float(stats["avgdl"] or 1.0) or 1.0,
        "n_shards": n_shards,
        "shard_size": max(1, math.ceil(n_docs / n_shards)),
        "block_size": block_size,
        "k1": k1,
        "b": b,
        "codec": "varint",
    }


def _write_meta(out_dir: str, meta: dict) -> None:
    """Commit stage 0: meta.json, then its (shard -1) manifest row."""
    _write_json(os.path.join(out_dir, "meta.json"), meta)
    write_manifest_entry(
        out_dir,
        {"shard": -1, "status": "done", "stage": "docmap",
         "n_docs": meta["n_docs"], "wrote_at": time.time()},
    )


def _write_shards(
    spark: SparkSession, positions: DataFrame, out_dir: str,
    shards: list[int], meta: dict, timings: dict | None = None,
) -> None:
    """The shard writer the build and the merge share. ``positions`` is a
    POSITIONS_SCHEMA frame holding ``shards``, each shard written by
    one task and sorted by (term, doc_no).

    Writes positions, then derives the posting blocks from the table
    just written: a column-pruned read (shard/term/doc_no/tf/dl — the
    position buffers are skipped by parquet) into the streaming block
    encoder, so the token->postings build runs once per shard. The
    encoder carries (shard, term) runs across batch boundaries; a run
    split across read partitions just yields more (still disjoint,
    still sorted) blocks for that term. Writes postings and commits
    one manifest row per shard. ``timings`` accumulates the positions
    and postings wall seconds.
    """
    pos_dir = os.path.join(out_dir, "positions")
    post_dir = os.path.join(out_dir, "postings")

    def timed(key: str, t0: float) -> None:
        if timings is not None:
            timings[key] = timings.get(key, 0.0) + round(time.time() - t0, 2)

    t0 = time.time()
    (
        positions.write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy("shard")
        .parquet(pos_dir)
    )
    timed("positions", t0)
    t0 = time.time()
    encode = _encode_blocks_stream(meta["avgdl"], meta["k1"], meta["b"], meta["block_size"])
    (
        spark.read.parquet(pos_dir)
        .where(F.col("shard").isin(shards))
        .select(
            "shard", "term", "doc_no",
            (F.col("n_title") + F.col("n_desc") + F.col("n_body")).alias("tf"),
            "dl",
        )
        .mapInPandas(encode, BLOCKS_SCHEMA)
        .write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy("shard")
        .parquet(post_dir)
    )
    timed("postings", t0)
    # per-shard metrics -> manifest (lineage + metrics per north_rule)
    stats = (
        spark.read.parquet(post_dir)
        .where(F.col("shard").isin(shards))
        .groupBy("shard")
        .agg(
            F.sum("n_docs").alias("n_postings"),
            F.count("*").alias("n_blocks"),
            F.countDistinct("term").alias("n_terms"),
        )
        .collect()
    )
    by_shard = {r["shard"]: r for r in stats}
    for s in shards:
        r = by_shard.get(s)
        write_manifest_entry(
            out_dir,
            {
                "shard": s,
                "status": "done",
                "stage": "postings",
                "n_postings": int(r["n_postings"]) if r else 0,
                "n_blocks": int(r["n_blocks"]) if r else 0,
                "n_terms": int(r["n_terms"]) if r else 0,
                "wrote_at": time.time(),
            },
        )


def _write_terms(spark: SparkSession, out_dir: str) -> None:
    """The terms dictionary (term, df, n_blocks) over all postings."""
    (
        spark.read.parquet(os.path.join(out_dir, "postings"))
        .groupBy("term")
        .agg(F.sum("n_docs").alias("df"), F.count("*").alias("n_blocks"))
        .repartitionByRange(4, "term")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .option("compression", "zstd")
        .parquet(os.path.join(out_dir, "terms"))
    )


def build_segments(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    *,
    n_shards: int | None = None,
    shards_per_job: int = 8,
    block_size: int = DEFAULT_BLOCK_SIZE,
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
    resume: bool = True,
    timings: dict | None = None,
) -> dict:
    """Full resumable index build: pages -> segments at out_dir.

    Returns the meta dict. Stage 0 (extract, number, and the docmap,
    docs_content and per-shard docs_tokens tables) is one atomic unit.
    Then groups of ``shards_per_job`` shards build their positions
    locally, one applyInPandas task per shard over docs_tokens, and go
    through the shard writer shared with the merge; each
    group commits its own manifest rows, so a rerun resumes at the
    first unfinished shard. Pass a dict as `timings` to get per-stage
    wall seconds back (extract_number, stage0_writes, positions,
    postings, terms_dict).
    """
    from nadry_spark.operators.index_build import extract_documents
    from nadry_spark.session import ship_package

    ship_package(spark)
    os.makedirs(out_dir, exist_ok=True)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    meta_path = os.path.join(out_dir, "meta.json")
    docmap_path = os.path.join(out_dir, "docmap")
    manifest = read_manifest(out_dir) if resume else {}

    # ---- stage 0: documents + docmap (atomic; reused on resume) ----
    if resume and os.path.exists(meta_path) and manifest.get(-1, {}).get("status") == "done":
        with open(meta_path) as f:
            meta = json.load(f)
    else:
        _t = time.time()
        documents = extract_documents(pages)
        # extraction hash-partitions raw pages by url, so the extracted
        # frame is already deterministically partitioned — number in
        # place instead of reshuffling the (fatter) extracted corpus
        numbered, persisted = assign_doc_numbers(documents, assume_partitioned=True)
        meta = _segment_meta(spark, numbered, n_shards, block_size, k1, b)
        n_shards = meta["n_shards"]
        if timings is not None:
            timings["extract_number"] = round(time.time() - _t, 2)
            _t = time.time()
        numbered = numbered.withColumn(
            "shard", (F.col("doc_no") / F.lit(meta["shard_size"])).cast("int")
        )

        # The three stage-0 tables are independent projections of the
        # SAME persisted frame: submit their writes from a small thread
        # pool so the next write's tasks back-fill executors freed by
        # the previous write's straggler tail (guide §2.6) — actions
        # are only sequential when the driver calls them sequentially.
        def _write_docmap():
            (
                numbered.select(
                    "doc_id", "doc_no", "shard", "url", "title", "description",
                    "total_words", F.lit(0.0).alias("popularity_score"),
                )
                .repartitionByRange(max(2, n_shards // 2), "doc_no")
                .write.mode("overwrite")
                .option("compression", "zstd")
                .parquet(docmap_path)
            )

        def _write_content():
            (
                numbered.select("doc_no", "content", "links")
                .repartitionByRange(max(2, n_shards // 2), "doc_no")
                .write.mode("overwrite")
                .option("compression", "zstd")
                .parquet(os.path.join(out_dir, "docs_content"))
            )

        # per-doc token cache for the shard jobs: compact (arrays per
        # doc, ~corpus-sized), partitioned by shard so each group's read
        # prunes to its own directories. The per-shard index build is
        # LOCAL from here on — no exploded-token shuffle exists at all.
        def _write_tokens():
            (
                numbered.select(
                    "shard", "doc_no", "tokens_title", "tokens_desc",
                    "tokens_body", "total_words",
                )
                .repartition("shard")
                .write.mode("overwrite")
                .partitionBy("shard")
                .parquet(os.path.join(out_dir, "docs_tokens"))
            )

        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=3) as pool:
            futures = [
                pool.submit(fn)
                for fn in (_write_tokens, _write_docmap, _write_content)
            ]
            for fut in futures:
                fut.result()
        if persisted is not None:
            persisted.unpersist()  # docmap/docs_tokens written; release cache
        if timings is not None:
            timings["stage0_writes"] = round(time.time() - _t, 2)
        _write_meta(out_dir, meta)
        manifest = read_manifest(out_dir)

    docs_tokens = spark.read.parquet(os.path.join(out_dir, "docs_tokens"))

    # ---- shard groups (resumable unit) ----
    # The index build is SHUFFLE-FREE per shard: docs are already
    # partitioned by shard on disk; one applyInPandas task per shard
    # builds its positions locally (the Lucene-segment model). Global
    # merge is unnecessary because shards partition the doc space.
    pending = [s for s in range(meta["n_shards"]) if manifest.get(s, {}).get("status") != "done"]
    for g in range(0, len(pending), shards_per_job):
        group = pending[g : g + shards_per_job]
        positions = (
            docs_tokens.where(F.col("shard").isin(group))
            .groupBy("shard")
            .applyInPandas(_positions_fn, POSITIONS_SCHEMA)
        )
        _write_shards(spark, positions, out_dir, group, meta, timings)

    _t = time.time()
    _write_terms(spark, out_dir)
    if timings is not None:
        timings["terms_dict"] = round(time.time() - _t, 2)
    return meta


def _merge_segments(
    spark: SparkSession, paths: list[str], out_dir: str, n_shards: int | None = None,
) -> dict:
    """The merge writer: fold the LIVE docs of the segment family at
    ``paths`` (ordered oldest first) into one segment at out_dir — the
    Lucene forced-merge. Returns the meta dict.

    Tombstoned docs drop out and the live docmap rows are renumbered.
    Each doc's positions rows and docs_content move to the new
    (doc_no, shard) by a join on (segment, old doc_no): the encoded
    position lists and dl are carried as they are (no re-tokenize, no
    re-encode) into the shard writer build_segments uses. Popularity is
    the max over every copy of the doc_id in the family, tombstoned
    copies included (popularity is a url property). k1, b and
    block_size come from the family's meta.
    """
    segs = [SegmentIndex(spark, p) for p in paths]
    os.makedirs(out_dir, exist_ok=True)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    docs = None
    for i, (seg, dead) in enumerate(zip(segs, _tombstones(segs))):
        live = ~F.col("doc_no").isin(sorted(dead)) if dead else F.lit(True)
        part = seg.docmap.drop("shard").select(
            "*", F.lit(i).alias("_seg"), live.alias("_live")
        )
        docs = part if docs is None else docs.unionByName(part)
    docs = (
        docs.withColumn(
            "popularity_score",
            F.max("popularity_score").over(Window.partitionBy("doc_id")),
        )
        .where("_live")
        .withColumnRenamed("doc_no", "_old")
        .drop("_live")
    )
    numbered, persisted = assign_doc_numbers(docs)
    m0 = segs[0].meta
    meta = _segment_meta(spark, numbered, n_shards, m0["block_size"], m0["k1"], m0["b"])
    numbered = numbered.withColumn(
        "shard", (F.col("doc_no") / F.lit(meta["shard_size"])).cast("int")
    )
    new_nos = numbered.select("_seg", "_old", "doc_no", "shard")

    def moved(table: str) -> DataFrame:
        """Every live doc's rows of ``table``, keyed by its new doc_no
        and shard."""
        out = None
        for i, seg in enumerate(segs):
            part = getattr(seg, table).drop("shard").select("*", F.lit(i).alias("_seg"))
            out = part if out is None else out.unionByName(part)
        return out.withColumnRenamed("doc_no", "_old").join(new_nos, ["_seg", "_old"])

    (
        numbered.select(
            "doc_id", "doc_no", "shard", "url", "title", "description",
            "total_words", "popularity_score",
        )
        .write.mode("overwrite")
        .option("compression", "zstd")
        .parquet(os.path.join(out_dir, "docmap"))
    )
    (
        moved("docs_content")
        .select("doc_no", "content", "links")
        .write.mode("overwrite")
        .option("compression", "zstd")
        .parquet(os.path.join(out_dir, "docs_content"))
    )
    positions = (
        moved("positions")
        .select(
            "shard", "term", "doc_no", "n_title", "n_desc", "n_body",
            "pos_title_bin", "pos_desc_bin", "pos_body_bin", "dl",
        )
        .repartition("shard")
        .sortWithinPartitions("shard", "term", "doc_no")
    )
    _write_shards(spark, positions, out_dir, list(range(meta["n_shards"])), meta)
    _write_terms(spark, out_dir)
    _write_meta(out_dir, meta)
    persisted.unpersist()
    return meta


# ---------------------------------------------------------------------------
# read side
# ---------------------------------------------------------------------------


class SegmentIndex:
    """Handle over a built segment directory."""

    # driver-side pin gates for warm(): the term dictionary and the
    # doc_no->(doc_id, url) map are pinned in DRIVER memory while they
    # fit (a real serving deployment holds the dictionary in RAM) so a
    # query costs a dict probe instead of a Spark job; past the gates
    # serving falls back to the cached-DataFrame jobs unchanged.
    TERMS_DICT_MAX = 5_000_000
    DOCMAP_DICT_MAX = 1_000_000
    # serving-tier RAM budget for pinning the positions store (see
    # warm()); deliberately a byte capacity, not a core/corpus tune
    POSITIONS_CACHE_MAX_BYTES = 4 << 30

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        with open(os.path.join(path, "meta.json")) as f:
            self.meta = json.load(f)
        codec = self.meta.get("codec", "varint")
        if codec != "varint":
            raise ValueError(
                f"segment {path} has posting codec {codec!r}; only 'varint' "
                "blocks can be read — rebuild the segment"
            )
        self._cached: dict[str, DataFrame] = {}
        self._terms_dict: dict | None = None
        self._docmap_dict: dict | None = None

    def warm(self) -> "SegmentIndex":
        """Pin the dictionary, blocks and docmap in executor memory —
        what a serving deployment does for query latency — and, while
        they fit the driver gates above, the term dictionary and docmap
        in driver memory too. Returns self."""
        counts: dict[str, int] = {}
        names = ["terms", "blocks", "docmap"]
        # the positions store is the largest segment table — pin it
        # only while it fits a serving-tier RAM budget (on-disk bytes,
        # a capacity gate, not a local-core tune); past the gate the
        # phrase/field paths keep their term-pruned parquet scans,
        # which is the 100x shape (position stores live on SSD there)
        pos_dir = os.path.join(self.path, "positions")
        pos_bytes = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, files in os.walk(pos_dir)
            for f in files
        )
        if pos_bytes <= self.POSITIONS_CACHE_MAX_BYTES:
            names.append("positions")
        for name in names:
            df = getattr(self, name)
            if name in ("blocks", "positions"):
                # cache the postings pre-clustered by shard: the
                # directory-partitioned scan caches as many small
                # splits whose per-partition scan overhead dominates
                # sub-second queries; one warm-time shuffle into
                # n_shards partitions makes every per-query scan read
                # n_shards full partitions (~0.15s/query measured)
                # sortWithinPartitions(term): in-memory batch min/max
                # stats then prune non-matching term ranges per query
                # (partition-batch pruning), instead of scanning every
                # cached batch for the isin filter
                df = df.repartition(
                    max(1, int(self.meta.get("n_shards", 1))), "shard"
                ).sortWithinPartitions("term")
            df = df.cache()
            counts[name] = df.count()
            self._cached[name] = df
        if counts["terms"] <= self.TERMS_DICT_MAX:
            self._terms_dict = {
                r["term"]: {"df": r["df"], "n_blocks": r["n_blocks"]}
                for r in self._cached["terms"].collect()
            }
        if counts["docmap"] <= self.DOCMAP_DICT_MAX:
            self._docmap_dict = {
                r["doc_no"]: (r["doc_id"], r["url"])
                for r in self._cached["docmap"]
                .select("doc_no", "doc_id", "url")
                .collect()
            }
        return self

    @property
    def blocks(self) -> DataFrame:
        if "blocks" in self._cached:
            return self._cached["blocks"]
        return self.spark.read.parquet(os.path.join(self.path, "postings"))

    @property
    def positions(self) -> DataFrame:
        if "positions" in self._cached:
            return self._cached["positions"]
        return self.spark.read.parquet(os.path.join(self.path, "positions"))

    @property
    def terms(self) -> DataFrame:
        if "terms" in self._cached:
            return self._cached["terms"]
        return self.spark.read.parquet(os.path.join(self.path, "terms"))

    @property
    def docmap(self) -> DataFrame:
        if "docmap" in self._cached:
            return self._cached["docmap"]
        return self.spark.read.parquet(os.path.join(self.path, "docmap"))

    @property
    def has_anchors(self) -> bool:
        """True once jobs/anchors.py has backfilled inbound anchor
        terms for this segment."""
        return os.path.isdir(os.path.join(self.path, "anchors"))

    @property
    def anchors(self) -> DataFrame:
        """(doc_no, term, tf, n_srcs) inbound-anchor terms in the
        index vocabulary (jobs/anchors.py backfill)."""
        return self.spark.read.parquet(os.path.join(self.path, "anchors"))

    @property
    def docs_content(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.path, "docs_content"))

    def term_stats(self, terms: list[str]) -> dict[str, dict]:
        if self._terms_dict is not None:
            return {
                t: dict(self._terms_dict[t])
                for t in set(terms)
                if t in self._terms_dict
            }
        rows = self.terms.where(F.col("term").isin(list(set(terms)))).collect()
        return {r["term"]: {"df": r["df"], "n_blocks": r["n_blocks"]} for r in rows}

    def supersedes(self) -> dict[str, list[int]]:
        """Doc_nos in OLDER segments that this segment's docs replace
        (re-crawled urls), keyed by the older segment's path basename.
        Written by the incremental streaming finalize; empty for batch
        builds."""
        path = os.path.join(self.path, "supersedes.json")
        if not os.path.exists(path):
            return {}
        with open(path) as f:
            return json.load(f)

    def decoded_tf(self, terms: list[str]) -> DataFrame:
        """(term, doc_no, tf) long form decoded from the compressed
        blocks of the given terms — the exact-mode candidate probe
        (J1/S7/S8). Term filter is pushed to the parquet scan; the
        decode is one vectorized mapInPandas pass per block batch."""
        from nadry_spark.operators.codecs import explode_tf_batches

        blocks = self.blocks.where(F.col("term").isin(sorted(set(terms))))
        return blocks.mapInPandas(
            lambda it: explode_tf_batches(it, with_term=True),
            "term string, doc_no long, tf int",
        )

    # ---- common serving API (shared with MultiSegmentIndex) ----

    def candidates_for(self, terms: list[str]) -> DataFrame:
        """(term, doc_id, url, tf) exact-mode candidates."""
        return (
            self.decoded_tf(terms)
            .join(self.docmap.select("doc_no", "doc_id", "url"), "doc_no")
            .select("term", "doc_id", "url", "tf")
        )

    def doc_meta_df(self) -> DataFrame:
        """(doc_id, url, total_words, popularity_score) for ranking."""
        return self.docmap.select("doc_id", "url", "total_words", "popularity_score")

    def content_for(self, ids_df: DataFrame) -> DataFrame:
        """(doc_id, title, content) for the requested doc_ids — the
        page-bounded enrichment join (J4)."""
        return (
            self.docmap.join(ids_df, "doc_id")
            .join(self.docs_content, "doc_no")
            .select("doc_id", "title", "content")
        )


class MultiSegmentIndex:
    """Serving handle over an ORDERED list of segment directories —
    the Lucene multi-segment model: each incremental finalize adds one
    segment holding only its new docs; queries run over all segments
    with GLOBAL statistics and merge the per-segment top-ks.

    * ``meta``: n_docs summed, avgdl doc-weighted across segments
      (sum of each segment's avgdl*n_docs over total docs), k1/b/block
      size asserted identical.
    * ``term_stats``: df summed per term across segments.
    * **Supersedes/tombstones**: a newer segment may re-crawl a url an
      older segment holds. Each incremental segment records the OLDER
      segments' doc_nos it replaces (supersedes.json); queries exclude
      those doc_nos from the older segment's scoring, so the newest
      content wins and nothing is double-counted. Tombstone sets are
      tiny (only re-crawls) and ride into the shard scorers as plain
      Python sets.

    Segments are doc-partitioned, so conjunctive/disjunctive scoring
    stays exact per segment; only the final k-way merge crosses
    segments (<= n_segments * shards * k rows). Global ordering ties
    break on doc_id (cluster-size independent), not doc_no.
    """

    def __init__(self, spark: SparkSession, paths: list[str]):
        if not paths:
            raise ValueError("MultiSegmentIndex needs at least one segment path")
        self.spark = spark
        self.segments = [SegmentIndex(spark, p) for p in paths]
        m0 = self.segments[0].meta
        for s in self.segments[1:]:
            for key in ("k1", "b", "block_size"):
                if s.meta[key] != m0[key]:
                    raise ValueError(
                        f"segment {s.path} has {key}={s.meta[key]} != {m0[key]}; "
                        "segments must share scoring parameters"
                    )
        # excluded[i] = doc_nos of segment i superseded by ANY newer segment
        self.excluded = _tombstones(self.segments)
        # LIVE global stats: superseded docs drop out of N and avgdl so
        # scoring matches a fresh rebuild of the latest corpus
        n_total = sum(s.meta["n_docs"] for s in self.segments)
        sum_dl = sum(s.meta["avgdl"] * s.meta["n_docs"] for s in self.segments)
        n_excl = sum(len(e) for e in self.excluded)
        if n_excl:
            for s, e in zip(self.segments, self.excluded):
                if e:
                    row = (
                        s.docmap.where(F.col("doc_no").isin([int(x) for x in e]))
                        .agg(F.sum("total_words").alias("dl"))
                        .collect()[0]
                    )
                    sum_dl -= float(row["dl"] or 0.0)
        n_live = n_total - n_excl
        self.meta = {
            **m0,
            "n_docs": n_live,
            "avgdl": (sum_dl / n_live) if n_live else 1.0,
        }
        self._df_corr: dict[str, int] = {}  # df_corrections cache

    def warm(self) -> "MultiSegmentIndex":
        for s in self.segments:
            s.warm()
        return self

    def term_stats(self, terms: list[str]) -> dict[str, dict]:
        out: dict[str, dict] = {}
        for s in self.segments:
            for t, st in s.term_stats(terms).items():
                agg = out.setdefault(t, {"df": 0, "n_blocks": 0})
                agg["df"] += st["df"]
                agg["n_blocks"] += st["n_blocks"]
        return out

    def df_corrections(self, terms: list[str]) -> dict[str, int]:
        """Per-term count of TOMBSTONED docs containing the term —
        subtract from summed df for live-exact idf. Tombstone sets are
        immutable for this handle's lifetime, so results are cached
        per term; uncached terms are probed in ONE batched job across
        all segments with exclusions (not one collect per segment per
        query — this sits on the hot serving path)."""
        missing = [t for t in set(terms) if t not in self._df_corr]
        if missing and any(self.excluded):
            probe = None
            for seg, excl in zip(self.segments, self.excluded):
                if not excl:
                    continue
                part = seg.decoded_tf(missing).where(
                    F.col("doc_no").isin([int(x) for x in excl])
                )
                probe = part if probe is None else probe.unionByName(part)
            # (term, doc_no) is unique WITHIN a segment's decoded_tf
            # (postings merge fields before block encoding and a doc
            # lives in exactly one shard), but per-segment doc_no
            # spaces all start at 0 — distinct-by-doc_no across the
            # union would collapse tombstoned docs from DIFFERENT
            # segments that happen to share a doc_no. Plain count('*')
            # counts each (segment, term, doc) probe row exactly once.
            counts = {
                r["term"]: int(r["c"])
                for r in probe.groupBy("term")
                .agg(F.count("*").alias("c"))
                .collect()
            }
            for t in missing:
                self._df_corr[t] = counts.get(t, 0)
        else:
            for t in missing:
                self._df_corr[t] = 0
        return {t: self._df_corr[t] for t in set(terms)}

    # ---- common serving API (tombstone-aware unions) ----

    def _live(self, i: int, df: DataFrame) -> DataFrame:
        """Drop segment i's tombstoned doc_nos from a frame."""
        excl = self.excluded[i]
        if not excl:
            return df
        return df.where(~F.col("doc_no").isin([int(x) for x in excl]))

    def candidates_for(self, terms: list[str]) -> DataFrame:
        """(term, doc_id, url, tf) across the family, live docs only.
        Doc spaces are disjoint per segment (each live doc_id exists in
        exactly one live segment), so the union has no duplicates."""
        parts = [
            self._live(i, s.decoded_tf(terms))
            .join(s.docmap.select("doc_no", "doc_id", "url"), "doc_no")
            .select("term", "doc_id", "url", "tf")
            for i, s in enumerate(self.segments)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def doc_meta_df(self) -> DataFrame:
        parts = [
            self._live(i, s.docmap).select(
                "doc_id", "url", "total_words", "popularity_score"
            )
            for i, s in enumerate(self.segments)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def content_for(self, ids_df: DataFrame) -> DataFrame:
        parts = [
            self._live(i, s.docmap.join(ids_df, "doc_id"))
            .join(s.docs_content, "doc_no")
            .select("doc_id", "title", "content")
            for i, s in enumerate(self.segments)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out


def _tombstones(segs: list[SegmentIndex]) -> list[set[int]]:
    """Per family member, the doc_nos that a newer member's
    supersedes.json replaces (re-crawled urls)."""
    dead: list[set[int]] = [set() for _ in segs]
    by_name = {os.path.basename(s.path.rstrip("/")): i for i, s in enumerate(segs)}
    for s in segs:
        for older_name, doc_nos in s.supersedes().items():
            i = by_name.get(older_name)
            if i is not None:
                dead[i].update(int(d) for d in doc_nos)
    return dead
