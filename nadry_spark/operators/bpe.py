"""Distributed BPE (byte-pair-encoding) merge-table learning.

Subword tokenizers are the other half of the training-data last mile
(alongside packing, `pack_bins`): before a corpus can be packed into
fixed-length training sequences it has to be tokenized, and the BPE
merge table itself is *learned from the corpus* (Sennrich, Haddow &
Birch, ACL 2016, "Neural Machine Translation of Rare Words with
Subword Units").  This module learns that merge table with Spark doing
all the corpus-sized work:

  1. one distributed pass reduces the corpus to its VOCABULARY
     (distinct word -> count) — the classic BPE trick: all further
     work is vocab-sized (bounded by distinct words, ~10M at web
     scale), never corpus-sized;
  2. the vocabulary is kept in LONG form, one row per
     (word, position, symbol) — the repo's standard n-gram shape
     (posexplode + lead(), no sequence()/transform() lambda traps);
  3. each merge step counts adjacent symbol pairs weighted by word
     count, takes the argmax with a deterministic tie-break
     (count desc, pair asc), and applies the merge.

The merge application is the subtle part.  The published algorithm
merges greedily LEFT-TO-RIGHT, NON-OVERLAPPING within each word
("aaaa" + merge (a,a) -> "aa aa", not "aa a a" or "a aa a").  A naive
spaced-string replace() gets this wrong: the trailing delimiter of one
replaced occurrence is the leading delimiter of the next candidate, so
replace(" a a ", " aa ") on " a a a a " yields "aa a a".  Instead the
greedy selection is expressed with windows (gaps-and-islands):
candidate positions i where (s[i], s[i+1]) = (lft, rgt) can only be
CONSECUTIVE when lft = rgt (s[i+1] would have to equal both), so
maximal runs of consecutive candidates are islands (island id =
i - row_number() among candidates), and greedy left-to-right selection
keeps every OTHER candidate from each island's start
((i - min(i) over island) % 2 = 0).  Selected positions become the
merged symbol, positions directly after a selected one are consumed,
and row_number() re-indexes.  Pure window functions + codegen — no
per-row Python anywhere — and identically expressible in DuckDB for
the oracle.

The argmax is ONE row collected per step — BPE is inherently
sequential in the number of merges (each step's counts depend on the
previous merge), so k merges cost k vocab-sized Spark jobs plus k
1-row collects.  That is the shape real distributed BPE trainers use;
nothing corpus-sized ever reaches the driver.  While the vocabulary
fits ``DRIVER_BPE_MAX_VOCAB`` (one bounded collect decides) the same
merge loop runs in memory over it instead — one Spark job in all.

Determinism / oracle notes: tokenization is lowercase a-z runs
(RE2-safe class, ASCII); overlapping pairs are COUNTED ("a a a" has
(a,a) twice) while the merge is non-overlapping — exactly the
published algorithm; ties broken by (pair_count desc, lft, rgt).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nadry_spark.localrows import collect_bounded


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus -> vocabulary: one row per distinct lowercase a-z word
    with its corpus frequency.  The only corpus-sized job in BPE
    training; map-side combinable."""
    return (
        docs.select(
            F.explode(F.split(F.lower(F.col(text_col)), "[^a-z]+")).alias("word")
        )
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def _long_form(words: DataFrame) -> DataFrame:
    """(word, cnt) -> (word, cnt, i, s): one row per character
    position.  The spaced regexp split is the char-split idiom shared
    with the DuckDB oracle ('(.)' -> '$1 ')."""
    return words.select(
        "word",
        "cnt",
        F.posexplode(
            F.split(F.trim(F.regexp_replace("word", "(.)", "$1 ")), " ")
        ).alias("i", "s"),
    )


def _pair_counts(long_df: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts weighted by word frequency
    (overlapping positions all counted, per the published algorithm)."""
    w = Window.partitionBy("word").orderBy("i")
    return (
        long_df.select(
            "cnt",
            F.col("s").alias("lft"),
            F.lead("s").over(w).alias("rgt"),
        )
        .where(F.col("rgt").isNotNull())
        .groupBy("lft", "rgt")
        .agg(F.sum("cnt").alias("pair_count"))
    )


def _apply_merge(long_df: DataFrame, lft: str, rgt: str) -> DataFrame:
    """Greedy left-to-right non-overlapping merge of (lft, rgt) in
    every word, via the gaps-and-islands selection (module docstring)."""
    w = Window.partitionBy("word").orderBy("i")
    cand = (
        long_df.withColumn("nx", F.lead("s").over(w))
        .where((F.col("s") == lft) & (F.col("nx") == rgt))
        .select("word", "i")
    )
    isl = cand.withColumn("isl", F.col("i") - F.row_number().over(w))
    w_isl = Window.partitionBy("word", "isl")
    sel = isl.select(
        "word",
        "i",
        (((F.col("i") - F.min("i").over(w_isl)) % 2) == 0).alias("sel"),
    )
    j = long_df.join(sel, ["word", "i"], "left").withColumn(
        "consumed", F.lag("sel").over(w)
    )
    kept = j.where(
        F.coalesce("sel", F.lit(False)) | ~F.coalesce("consumed", F.lit(False))
    )
    return kept.select(
        "word",
        "cnt",
        (F.row_number().over(w) - 1).alias("i"),
        F.when(F.col("sel"), F.lit(lft + rgt)).otherwise(F.col("s")).alias("s"),
    )


def _apply_merge_inplace(words: list, lft: str, rgt: str) -> None:
    """Greedy left-to-right non-overlapping (lft, rgt) merge over the
    in-memory symbol lists — the Python mirror of :func:`_apply_merge`."""
    merged = lft + rgt
    for wi, (syms, c) in enumerate(words):
        i, new = 0, []
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == lft and syms[i + 1] == rgt:
                new.append(merged)
                i += 2
            else:
                new.append(syms[i])
                i += 1
        words[wi] = (new, c)


def _merges_and_words_from_vocab(
    words: list, n_merges: int
) -> tuple[list[tuple[int, str, str, int]], list]:
    """The classic in-memory BPE merge loop (Sennrich ACL'16 reference
    implementation shape) over pre-split (symbols, count) words, with
    the EXACT counting/tie-break/merge semantics of the Spark
    formulation: overlapping adjacent pairs all counted, argmax by
    (count desc, lft asc, rgt asc), greedy left-to-right
    non-overlapping merge application (equality asserted in
    tests/test_bpe.py). Returns (merge table, final symbol lists) so
    encode consumers read the post-merge segmentation without
    re-applying the chain."""
    out: list[tuple[int, str, str, int]] = []
    for step in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for syms, c in words:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + c
        if not counts:
            break
        (lft, rgt), best = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        out.append((step, lft, rgt, best))
        _apply_merge_inplace(words, lft, rgt)
    return out, words


# driver gate for the in-memory merge loop: the vocabulary (distinct
# lowercase words + counts) must fit the driver — ~2M rows is tens of
# MB; a bounded collect means a beyond-driver vocabulary falls through
# to the distributed per-merge loop without a full collect
DRIVER_BPE_MAX_VOCAB = 2_000_000


def _vocab_local(docs: DataFrame, text_col: str):
    """The vocabulary as (symbols, cnt) words, each word split into
    its characters, if it fits ``DRIVER_BPE_MAX_VOCAB``, else None
    (one bounded job either way)."""
    pdf = collect_bounded(word_counts(docs, text_col), DRIVER_BPE_MAX_VOCAB)
    if pdf is None:
        return None
    return [(list(w), int(c)) for w, c in zip(pdf["word"], pdf["cnt"])]


def bpe_merges(
    docs: DataFrame, n_merges: int = 3, text_col: str = "text"
) -> DataFrame:
    """Learn the first `n_merges` BPE merges over the corpus.

    Returns the merge table: (step int starting at 1, lft string,
    rgt string, pair_count long), ordered by step.  Stops early
    (fewer rows) if the vocabulary runs out of adjacent pairs.

    Driver-sized vocabularies (the common case, and what every
    production BPE trainer assumes: ~10M distinct lowercase words at
    web scale) take an in-memory merge loop once one bounded collect
    shows the vocabulary fits ``DRIVER_BPE_MAX_VOCAB`` — identical
    table (asserted in tests/test_bpe.py), ONE Spark job instead of
    one per merge. Past the gate the fully-distributed formulation
    runs: the vocabulary never leaves the cluster, one vocab-sized
    Spark job per merge.
    """
    spark = docs.sparkSession
    words = _vocab_local(docs, text_col)
    if words is not None:
        return spark.createDataFrame(
            _merges_and_words_from_vocab(words, n_merges)[0],
            "step int, lft string, rgt string, pair_count long",
        )
    # localCheckpoint per step: caps the k-step window/join lineage so
    # step k never replays all earlier merges; vocab-sized, cheap
    long_df = _long_form(word_counts(docs, text_col)).localCheckpoint()
    out: list[tuple[int, str, str, int]] = []
    for step in range(1, n_merges + 1):
        best = (
            _pair_counts(long_df)
            .orderBy(F.desc("pair_count"), F.asc("lft"), F.asc("rgt"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        lft, rgt, c = best[0]["lft"], best[0]["rgt"], int(best[0]["pair_count"])
        out.append((step, lft, rgt, c))
        long_df = _apply_merge(long_df, lft, rgt).localCheckpoint()
    return spark.createDataFrame(
        out, "step int, lft string, rgt string, pair_count long"
    )


def bpe_encode_stats(
    docs: DataFrame,
    merges: list[tuple[str, str]] | None = None,
    n_merges: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """Encode the corpus with a BPE merge table and return per-doc
    compression stats: (doc_id, n_words, n_subwords).  n_subwords /
    n_words is the tokens-per-word ratio a training pipeline budgets
    sequence lengths with (`pack_bins` consumes token counts).

    Pass `merges` to encode with a pre-learned table; with None the
    table is learned here (same argmax/tie-break as :func:`bpe_merges`)
    and the final vocabulary long form is REUSED for the encode, so
    learn+encode costs one chain of k merge applications, not two.

    Everything stays vocab-sized until the final join: the merged long
    form collapses to (word, n_sub) and joins the corpus word stream —
    no per-doc re-segmentation of repeated words."""
    spark = docs.sparkSession
    words = _vocab_local(docs, text_col)
    if words is not None:
        # driver fast path: learn (or apply) the merge chain in memory
        # over the collected vocabulary — the final symbol lists ARE
        # the segmentation, so n_sub per word falls out without the k
        # checkpointed merge applications; ONE corpus-sized job remains
        # (the word-stream join below). Identical n_sub values
        # (asserted in tests/test_bpe.py).
        if merges is None:
            _table, words = _merges_and_words_from_vocab(words, n_merges)
        else:
            for lft, rgt in merges:
                _apply_merge_inplace(words, lft, rgt)
        # a word is the concatenation of its (possibly merged) symbols;
        # Arrow-backed pandas frame (no parallelize task set — the
        # localrows measured boundary: VALUES loses past ~100 rows)
        import pandas as pd

        if words:
            n_sub = spark.createDataFrame(
                pd.DataFrame(
                    {
                        "word": ["".join(sy) for sy, _c in words],
                        "n_sub": [len(sy) for sy, _c in words],
                    }
                ),
                "word string, n_sub long",
            )
        else:
            n_sub = spark.createDataFrame([], "word string, n_sub long")
        docw = docs.select(
            "doc_id",
            F.explode(F.split(F.lower(F.col(text_col)), "[^a-z]+")).alias("word"),
        ).where(F.col("word") != "")
        return (
            docw.join(F.broadcast(n_sub), "word")
            .groupBy("doc_id")
            .agg(
                F.count("*").alias("n_words"),
                F.sum("n_sub").alias("n_subwords"),
            )
        )
    long_df = _long_form(word_counts(docs, text_col)).localCheckpoint()
    if merges is None:
        for _ in range(n_merges):
            best = (
                _pair_counts(long_df)
                .orderBy(F.desc("pair_count"), F.asc("lft"), F.asc("rgt"))
                .limit(1)
                .collect()
            )
            if not best:
                break
            long_df = _apply_merge(
                long_df, best[0]["lft"], best[0]["rgt"]
            ).localCheckpoint()
    else:
        for lft, rgt in merges:
            long_df = _apply_merge(long_df, lft, rgt).localCheckpoint()
    n_sub = long_df.groupBy("word").agg(F.count("*").alias("n_sub"))
    docw = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col(text_col)), "[^a-z]+")).alias("word"),
    ).where(F.col("word") != "")
    return (
        docw.join(n_sub, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_sub").alias("n_subwords"),
        )
    )


def bpe_segment(
    words: DataFrame, merges: list[tuple[str, str]], word_col: str = "word"
) -> DataFrame:
    """Apply a learned merge table to a vocabulary: the input frame
    plus `tokens` (space-joined subword segmentation).  Merges MUST be
    applied in learned order — later merges build on the symbols
    earlier ones created."""
    long_df = _long_form(
        words.select(F.col(word_col).alias("word"), F.lit(1).alias("cnt"))
    )
    for lft, rgt in merges:
        long_df = _apply_merge(long_df, lft, rgt)
    seg = long_df.groupBy("word").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "s"))),
                lambda x: x["s"],
            ),
            " ",
        ).alias("tokens")
    )
    return words.join(seg, words[word_col] == seg["word"], "left").select(
        *[words[c] for c in words.columns], seg["tokens"]
    )
