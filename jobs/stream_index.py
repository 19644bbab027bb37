"""Streaming index job — ingest new page files and keep a serving
family of segments current (the continuous-corpus story):

    # one cycle: ingest whatever is new, publish one segment per batch
    python jobs/stream_index.py --input /data/pages --work /data/stream \\
        --serve /data/serving

    # when the family has grown long: forced-merge to one segment
    python jobs/stream_index.py ... --compact

Each invocation runs ONE availableNow ingest cycle — every micro-batch
is built as a staged segment under --work (exactly-once per batch via
the stream checkpoint there) — then publishes the staged segments into
the --serve family (a directory rename: keep --work and --serve on one
filesystem), or merges the family with --compact. Query the result with
``python jobs/query_cli.py --segments <serve-dir> "..."`` — the CLI
auto-detects the multi-segment serving root.

PageRank popularity: ``--compact`` PRESERVES backfilled scores (the
merge carries each live doc's popularity across), but docs arriving in
NEW segments start at popularity 0 until
``python jobs/pagerank.py --segments <serve-dir>`` re-runs — schedule
it after finalizes when exact-mode blended ranking is in use.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--input", required=True,
        help="directory of page parquet files, or warc:<dir> (wet:<dir>) to watch "
        "a directory of Common-Crawl WARC archives",
    )
    ap.add_argument("--work", required=True,
                    help="stream work dir (staged batch segments + checkpoint)")
    ap.add_argument("--serve", required=True, help="serving segments root")
    ap.add_argument("--compact", action="store_true",
                    help="forced-merge: rebuild the family into ONE segment")
    ap.add_argument("--auto-compact-after", type=int, default=None, metavar="N",
                    help="merge policy: forced-merge automatically when the "
                    "serving family exceeds N segments after this cycle's "
                    "finalize (the Lucene tiered-merge trigger, simplified)")
    ap.add_argument("--snapshot", nargs="?", const="", default=None, metavar="NOTE",
                    help="after the finalize, pin the new serving state as an "
                    "immutable snapshot (time-travel commit point); optional note")
    ap.add_argument("--vacuum", action="store_true",
                    help="after the finalize, delete segment dirs referenced by "
                    "neither the serving state nor any snapshot")
    ap.add_argument("--shards", type=int, default=None)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from nadry_spark.session import get_spark
    from nadry_spark.streaming.ingest import (
        compact_serving,
        finalize_incremental,
        stream_ingest,
    )

    spark = get_spark("nadry_stream_index", master=args.master)
    ckpt = os.path.join(args.work, "checkpoint")
    out = os.path.join(args.work, "out")
    q = stream_ingest(spark, args.input, out, ckpt, n_shards=args.shards)
    q.awaitTermination()

    if args.compact:
        state = compact_serving(spark, out, args.serve, n_shards=args.shards)
    else:
        state = finalize_incremental(spark, out, args.serve)
        if (
            args.auto_compact_after is not None
            and len(state["segments"]) > args.auto_compact_after
        ):
            # per-query fan-out is one scan per segment; past the
            # threshold the rebuild amortizes over every future query
            state = compact_serving(spark, out, args.serve, n_shards=args.shards)
            state["auto_compacted"] = True
    if args.snapshot is not None:
        from nadry_spark.streaming.snapshots import create_snapshot

        snap = create_snapshot(args.serve, note=args.snapshot or None)
        state["snapshot_id"] = snap["id"]
    if args.vacuum:
        from nadry_spark.streaming.snapshots import vacuum_segments

        state["vacuumed"] = vacuum_segments(args.serve)
    print(json.dumps(state))
    spark.stop()


if __name__ == "__main__":
    main()
