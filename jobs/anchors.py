"""Anchor-text backfill job: extract per-occurrence inbound anchors
from the raw pages, tokenize them with the engine's real tokenizer,
and write each segment an `anchors` table (doc_no, term, tf, n_srcs)
keyed into its doc space — the Brin & Page external-description
signal, served by operators/anchors.anchor_boosted_topk.

    python jobs/anchors.py --pages /data/pages.parquet --segments /data/segments
    python jobs/anchors.py --pages warc:/data/archives --segments /data/serving_root

Like jobs/pagerank.py, the directory opens through
ingest.open_serving_index, so every member segment of a multi-segment
serving root gets its slice.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True,
                    help="pages source (parquet path or catalog scheme)")
    ap.add_argument("--segments", required=True)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from nadry_spark.functions.udfs import anchor_links_udf
    from nadry_spark.operators.anchors import anchor_term_index_tokenized
    from nadry_spark.session import get_spark
    from nadry_spark.sources.catalog import read_table
    from nadry_spark.streaming.ingest import open_serving_index

    spark = get_spark("nadry_anchors", master=args.master)
    t0 = time.time()

    pages = read_table(spark, args.pages)
    links = (
        pages.select(
            "url", F.explode(anchor_links_udf("html", "url")).alias("l")
        )
        .select(F.col("url").alias("src"), "l.dst", "l.anchor")
    )
    at = anchor_term_index_tokenized(links).localCheckpoint()

    segments = open_serving_index(spark, args.segments).segments
    total = 0
    for seg in segments:
        rows = (
            seg.docmap.select("doc_no", F.col("url").alias("dst"))
            .join(at, "dst")
            .select("doc_no", "term", "tf", "n_srcs")
        )
        out = os.path.join(seg.path, "anchors")
        rows.write.mode("overwrite").parquet(out)
        total += spark.read.parquet(out).count()

    print(
        json.dumps(
            {
                "event": "anchors_done",
                "segments": len(segments),
                "anchor_term_rows": total,
                "elapsed_sec": round(time.time() - t0, 2),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
