"""Resumable index-build job: pages -> one segment directory (docmap,
per-field positions, delta-gap + varint posting blocks of --block-size
docs with per-block max-score, terms dictionary, per-shard manifest).

    spark-submit --py-files nadry_spark.zip jobs/build_index.py \
        --pages /data/pages_parquet --out /data/segments \
        --shards 64 --shards-per-job 16 [--no-resume]

Or plain ``python jobs/build_index.py ...`` locally (the session helper
ships the package itself). Kill it mid-build and rerun: completed shard
groups are skipped via the manifest (per-partition lineage + metrics,
north_rule).
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
    ap.add_argument(
        "--pages", required=True,
        help="input pages table (url, warc_ts, html, text, lang): a parquet "
        "path, parquet:<path>, or iceberg:<catalog.db.table> (needs the "
        "Iceberg runtime jar on the classpath)",
    )
    ap.add_argument("--out", required=True, help="segment output directory")
    ap.add_argument(
        "--shards", type=int, default=None,
        help="shard count; default derives from corpus size "
        "(ceil(n_docs / 16384), floored at cluster parallelism)",
    )
    ap.add_argument("--shards-per-job", type=int, default=8)
    ap.add_argument("--block-size", type=int, default=128)
    ap.add_argument("--k1", type=float, default=1.2)
    ap.add_argument("--b", type=float, default=0.75)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from nadry_spark.session import get_spark
    from nadry_spark.sources.catalog import read_table
    from nadry_spark.sources.segments import build_segments, read_manifest

    spark = get_spark("nadry_build_index", master=args.master)
    t0 = time.time()
    pages = read_table(spark, args.pages)
    meta = build_segments(
        spark,
        pages,
        args.out,
        n_shards=args.shards,
        shards_per_job=args.shards_per_job,
        block_size=args.block_size,
        k1=args.k1,
        b=args.b,
        resume=not args.no_resume,
    )
    elapsed = time.time() - t0
    manifest = read_manifest(args.out)
    n_postings = sum(e.get("n_postings", 0) for e in manifest.values())
    print(
        json.dumps(
            {
                "event": "index_build_done",
                "n_docs": meta["n_docs"],
                "n_shards": meta["n_shards"],
                "n_postings": n_postings,
                "elapsed_sec": round(elapsed, 2),
                "docs_per_sec": round(meta["n_docs"] / elapsed, 2),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
