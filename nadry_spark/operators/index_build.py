"""Inverted-index build — the Spark-first rewrite of the indexer batch.

Reference pipeline (indexer/Main.java + IndexBuilder.java +
InvertedIndex.java): producer/consumer thread pools, per-doc
tokenization per field (TITLE, DESCRIPTION, BODY with independent
position counters — IndexBuilder.java:72-75,126-145), postings merged
per (term, docId) and bulk-upserted to MongoDB.

Here the whole apparatus is one declarative plan:

    pages -> extract UDF -> tokenize UDF (3 fields) -> posexplode
          -> groupBy(doc_id, term) [partial agg map-side]
          -> postings long form

Scale notes (the part that matters at 100 TB):
- The only wide shuffle is the groupBy on (term, doc_id); partial
  aggregation (Catalyst automatic for collect_list on pre-grouped
  rows is NOT partial — but the explode output for one (doc, term) is
  always colocated in one task, so we aggregate per-document FIRST via
  a within-partition groupBy keyed by doc_id which never shuffles
  doc-local data twice).
- High-DF terms (stopword-heavy corpora) produce giant per-term groups
  in the segment build; see segments.py for the salted two-phase agg.
- All text work is Arrow-batched pandas UDFs; everything downstream of
  the explode is JVM-side whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nadry_spark.functions.udfs import extract_udf, tokenize_udf

FIELD_TITLE = "title"
FIELD_DESC = "description"
FIELD_BODY = "body"

# FieldType boosts — InvertedIndex.java:18-32
FIELD_WEIGHTS = {FIELD_TITLE: 3.0, FIELD_DESC: 1.5, FIELD_BODY: 1.0}


def extract_documents(pages: DataFrame) -> DataFrame:
    """pages(url, html, ...) -> documents(doc_id, url, title, description,
    content, links, tokens_title, tokens_desc, tokens_body, total_words).

    doc_id = sha2(url, 256) — bit-identical to the reference
    (DocumentProcessor.java:151-163). Empty/oversize pages are dropped
    (P1, DocumentProcessor.java:44-53) via the null-struct filter. A url
    captured more than once yields one document, from its latest
    capture (the reference keeps one Documents row per url, S5:
    _id = sha256(url)).
    """
    # Parquet split planning packs small page files into few splits
    # (128MB default), which would run the CPU-heavy extraction UDF on
    # 1-2 cores regardless of cluster size. Re-split to the session
    # parallelism first — bytes-cheap (raw pages, BEFORE extraction
    # fattens each row with content + token arrays), and hash-by-url so
    # the resulting partitioning is deterministic: doc numbering
    # (assign_doc_numbers(assume_partitioned=True)) can then reuse it
    # without a second, full-corpus shuffle of the extracted output.
    spark = pages.sparkSession
    target = spark.sparkContext.defaultParallelism * 2
    pages = pages.repartition(target, "url")
    # one capture per url: the latest warc_ts, ties broken by the
    # greater html, then text, so the pick is deterministic. The window
    # clusters by url, which the repartition above already provides —
    # it adds no Exchange.
    latest = Window.partitionBy("url").orderBy(
        *(F.col(c).desc_nulls_last() for c in ("warc_ts", "html", "text") if c in pages.columns)
    )
    pages = (
        pages.withColumn("_rn", F.row_number().over(latest))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    # WET fall-through: rows with no html but a prefilled text column
    # (Common Crawl conversion records, sources/warc.read_wet) are
    # already extracted — index the text directly (empty title/
    # description, no links; the P1 empty/oversize bounds still apply).
    # html rows run the reference-exact extractor as before. One
    # projection chooses per row, so the latest-capture window above
    # runs once: the extractor sees html only where it is present (a
    # NULL comes back as the null struct without parsing), and an html
    # row whose extraction is empty drops rather than falling back.
    html_ok = F.col("html").isNotNull() & (F.length("html") > 0)
    text = F.col("text") if "text" in pages.columns else F.lit(None).cast("string")
    is_text = (
        ~html_ok & text.isNotNull() & (F.length(text) > 0)
        & (F.length(text) <= 100_000_000)
    )
    extracted = (
        pages.select(
            "url",
            is_text.alias("_text"),
            text.alias("_content"),
            extract_udf(F.when(html_ok, F.col("html")), F.col("url")).alias("doc"),
        )
        .where(F.col("doc.content").isNotNull() | F.col("_text"))
        .select(
            F.sha2(F.col("url"), 256).alias("doc_id"),
            "url",
            *(
                F.when(F.col("_text"), fallback)
                .otherwise(F.col(f"doc.{field}"))
                .alias(field)
                for field, fallback in (
                    ("title", F.lit("")),
                    ("description", F.lit("")),
                    ("content", F.col("_content")),
                    ("links", F.array().cast("array<string>")),
                )
            ),
        )
    )
    tokenized = extracted.select(
        "*",
        tokenize_udf(F.col("title")).alias("tokens_title"),
        tokenize_udf(F.col("description")).alias("tokens_desc"),
        tokenize_udf(F.col("content")).alias("tokens_body"),
    )
    # A2: totalWords = sum of token counts over the three fields,
    # special tokens included (IndexBuilder.java:72-75,144)
    return tokenized.withColumn(
        "total_words",
        F.size("tokens_title") + F.size("tokens_desc") + F.size("tokens_body"),
    )


def doc_stats(documents: DataFrame) -> DataFrame:
    """The persisted Documents collection shape (MongoDBIndexStore.java:208-228).

    popularity_score starts at 0.0 until the PageRank job fills it
    (saveDocument setOnInsert popularity_score: 0.0, :218).
    """
    return documents.select(
        "doc_id",
        "url",
        "title",
        "description",
        "content",
        "links",
        "total_words",
        F.lit(0.0).alias("popularity_score"),
    )


def term_positions(documents: DataFrame) -> DataFrame:
    """Long-form (doc_id, url, field, term, pos) — A1's posexplode.

    Position counters are independent per field (IndexBuilder.java:126-145:
    positions enumerate 0..n-1 within each field's token list).
    """
    parts = []
    for field, col in (
        (FIELD_TITLE, "tokens_title"),
        (FIELD_DESC, "tokens_desc"),
        (FIELD_BODY, "tokens_body"),
    ):
        parts.append(
            documents.select(
                "doc_id",
                "url",
                F.lit(field).alias("field"),
                F.posexplode(col).alias("pos", "term"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def build_postings(documents: DataFrame) -> DataFrame:
    """postings long form: one row per (term, doc_id) with per-field
    position arrays, tf and weight (FIXTURES.md §3).

    Replaces the reference's queue/batch/upsert-merge machinery
    (InvertedIndex.java:183-214, MongoDBIndexStore.java:278-324) with a
    single shuffle: groupBy(term, doc_id).

    weight = 3.0*|title| + 1.5*|desc| + 1.0*|body| — accumulated once
    per added position in the reference (InvertedIndex.java:229-232),
    which is exactly the weighted position count.
    tf = total positions across fields (Posting.getFrequency,
    InvertedIndex.java:254-260).
    """
    tp = term_positions(documents)
    grouped = tp.groupBy("term", "doc_id").agg(
        F.first("url").alias("url"),
        F.sort_array(
            F.collect_list(F.when(F.col("field") == FIELD_TITLE, F.col("pos")))
        ).alias("positions_title"),
        F.sort_array(
            F.collect_list(F.when(F.col("field") == FIELD_DESC, F.col("pos")))
        ).alias("positions_desc"),
        F.sort_array(
            F.collect_list(F.when(F.col("field") == FIELD_BODY, F.col("pos")))
        ).alias("positions_body"),
    )
    return grouped.select(
        "term",
        "doc_id",
        "url",
        "positions_title",
        "positions_desc",
        "positions_body",
        (
            F.size("positions_title") + F.size("positions_desc") + F.size("positions_body")
        ).alias("tf"),
        (
            F.size("positions_title") * FIELD_WEIGHTS[FIELD_TITLE]
            + F.size("positions_desc") * FIELD_WEIGHTS[FIELD_DESC]
            + F.size("positions_body") * FIELD_WEIGHTS[FIELD_BODY]
        ).alias("weight"),
    )


def build_index(pages: DataFrame) -> tuple[DataFrame, DataFrame]:
    """pages -> (postings, doc_stats) — the full indexer batch."""
    documents = extract_documents(pages)
    return build_postings(documents), doc_stats(documents)


def term_posting_lists(
    postings: DataFrame,
    skew_threshold: int = 100_000,
    salt_buckets: int = 64,
) -> DataFrame:
    """A4: term -> full sorted posting array (the reference's
    `inverted_index` document shape, MongoDBIndexStore.java:278-324) via
    a salted two-phase aggregation.

    A plain ``groupBy(term).agg(collect_list(...))`` puts a high-DF
    term's entire posting list through ONE reducer — at web scale a
    stopword-adjacent term (DF ~ corpus size) is a multi-GB group that
    OOMs the task. AQE splits skewed *joins* but not a skewed
    collect_list group, so the skew is handled explicitly:

    phase 0: sketch per-term DF (cheap count agg);
    phase 1: skewed terms get a doc_id-hash salt -> groupBy(term, salt)
             collects bounded partial lists in parallel;
    phase 2: groupBy(term) flattens + sorts the few partial lists.

    Non-skewed terms take the single-phase path and are unioned in.

    SCOPE: phase 2 still materializes a hot term's FULL posting array
    in one reducer — bounded partials parallelize the work but the
    final flatten is inherently single-group. This shape exists for
    display/compat with the reference's one-document-per-term store
    (MongoDBIndexStore.java:278-324) and small/medium corpora; the
    serving path never reads it (segments store 128-doc blocks sharded
    by doc space, sources/segments.py). For a scale-safe export use
    :func:`term_posting_blocks`, which keeps every output array under
    a cap.
    """
    df_sketch = postings.groupBy("term").agg(F.count("*").alias("_df"))
    hot_terms = df_sketch.where(F.col("_df") >= skew_threshold).select("term")

    entry = F.struct(
        F.col("doc_id"), F.col("url"),
        F.col("positions_title"), F.col("positions_desc"), F.col("positions_body"),
        F.col("tf"), F.col("weight"),
    )

    cold = postings.join(F.broadcast(hot_terms), "term", "left_anti")
    cold_lists = cold.groupBy("term").agg(
        F.sort_array(F.collect_list(entry)).alias("postings")
    )

    hot = postings.join(F.broadcast(hot_terms), "term", "left_semi")
    salted = (
        hot.withColumn("_salt", F.pmod(F.xxhash64("doc_id"), F.lit(salt_buckets)))
        .groupBy("term", "_salt")
        .agg(F.sort_array(F.collect_list(entry)).alias("partial"))
    )
    hot_lists = (
        salted.groupBy("term")
        .agg(F.sort_array(F.flatten(F.collect_list(F.col("partial")))).alias("postings"))
    )
    return cold_lists.unionByName(hot_lists)


def term_posting_blocks(postings: DataFrame, block_cap: int = 100_000) -> DataFrame:
    """Scale-safe blocked variant of :func:`term_posting_lists`:
    ``(term, block_no, n_blocks, postings)`` where NO output array
    exceeds ~``block_cap`` entries, however hot the term — the full
    reference-shape list is the sorted merge of a term's blocks.

    Per-term block count derives from the DF sketch
    (``ceil(df / block_cap)``), and rows land in blocks by doc_id hash,
    so a stopword-scale term becomes many bounded groups aggregated in
    parallel instead of one corpus-sized array through a single reducer
    (hash balance makes the cap a tight expectation rather than a hard
    bound; blocks are doc_id-hash partitions, EACH internally sorted —
    consumers wanting the contiguous reference array sort-merge them).
    The df join is a plain shuffle join on term (the sketch has full
    term cardinality — never broadcast it)."""
    df_sketch = postings.groupBy("term").agg(F.count("*").alias("_df"))
    entry = F.struct(
        F.col("doc_id"), F.col("url"),
        F.col("positions_title"), F.col("positions_desc"), F.col("positions_body"),
        F.col("tf"), F.col("weight"),
    )
    tagged = (
        postings.join(df_sketch, "term")
        .withColumn(
            "_nb",
            F.greatest(F.lit(1), F.ceil(F.col("_df") / F.lit(block_cap))).cast("int"),
        )
        .withColumn(
            "block_no", F.pmod(F.xxhash64("doc_id"), F.col("_nb")).cast("int")
        )
    )
    return tagged.groupBy("term", "block_no").agg(
        F.first("_nb").alias("n_blocks"),
        F.sort_array(F.collect_list(entry)).alias("postings"),
    )
