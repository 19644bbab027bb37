"""Query CLI over built segments — the serving-path entry point.

    python jobs/query_cli.py --segments /data/segments "news report"
    python jobs/query_cli.py --segments /data/segments '"exact phrase"' --page 1
    python jobs/query_cli.py --segments /data/segments "news 2024" --scoring bm25 --mode and

Mirrors GET /api/search (api/SearchController.java:53-111): quoted
phrase switches to phrase mode; pagination after full ranking; the JSON
envelope matches the reference's response shape.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("query")
    ap.add_argument("--segments", required=True)
    ap.add_argument("--page", type=int, default=0)
    ap.add_argument("--page-size", type=int, default=10)
    ap.add_argument("--scoring", choices=["exact", "bm25"], default="exact")
    ap.add_argument("--mode", choices=["or", "and"], default="or",
                    help="bm25 scoring only; exact mode is disjunctive like the reference")
    ap.add_argument("--did-you-mean", action="store_true",
                    help="attach a didYouMean fuzzy suggestion to zero-result envelopes")
    ap.add_argument("--field", choices=["title", "description", "body"],
                    default=None,
                    help="restrict scoring occurrences to one field "
                         "(BM25 over the stored per-field counts)")
    ap.add_argument("--snapshot", type=int, default=None, metavar="ID",
                    help="time travel: serve from a pinned snapshot of the "
                         "incremental family instead of the current state")
    ap.add_argument("--anchor-boost", type=float, default=None, metavar="W",
                    help="bm25 with inbound-anchor boost "
                         "score + W*ln(1+anchor_srcs) (jobs/anchors.py "
                         "backfill; multi-segment roots supported, "
                         "unbackfilled segments contribute no evidence)")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()
    # clamp paging the way QueryEngine.search does: every path below
    # asks its scorer for (page + 1) * page_size rows
    args.page = max(args.page, 0)
    if args.page_size <= 0:
        args.page_size = 10

    from nadry_spark.plans.query import QueryEngine
    from nadry_spark.session import get_spark
    from nadry_spark.sources.segments import SegmentIndex

    spark = get_spark("nadry_query", master=args.master)
    # a dir holding serving_state.json is an incremental multi-segment
    # family (streaming.finalize_incremental); otherwise one segment dir
    if args.snapshot is not None:
        from nadry_spark.streaming.snapshots import open_snapshot

        idx = open_snapshot(spark, args.segments, args.snapshot).warm()
    elif os.path.exists(os.path.join(args.segments, "serving_state.json")):
        from nadry_spark.streaming.ingest import open_serving_index

        idx = open_serving_index(spark, args.segments).warm()
    else:
        idx = SegmentIndex(spark, args.segments).warm()

    if args.field:
        from nadry_spark.operators.fieldsearch import field_search

        rows = field_search(
            idx, args.query, args.field, k=(args.page + 1) * args.page_size
        ).collect()
        data = [r.asDict() for r in rows[args.page * args.page_size :]]
        print(json.dumps(
            {"success": True, "data": data, "field": args.field},
            default=str, indent=2,
        ))
    elif args.anchor_boost is not None:
        if hasattr(idx, "segments"):
            from nadry_spark.operators.anchors import (
                anchor_boosted_topk_multi as _boosted,
            )
        else:
            from nadry_spark.operators.anchors import anchor_boosted_topk as _boosted

        rows = _boosted(
            idx, args.query, k=(args.page + 1) * args.page_size,
            weight=args.anchor_boost,
        ).collect()
        data = [r.asDict() for r in rows[args.page * args.page_size :]]
        print(json.dumps(
            {"success": True, "data": data, "anchorBoost": args.anchor_boost},
            default=str, indent=2,
        ))
    elif args.scoring == "bm25" and args.mode == "and":
        if hasattr(idx, "segments"):
            from nadry_spark.operators.bm25 import bm25_topk_multi as _topk
        else:
            from nadry_spark.operators.bm25 import bm25_topk as _topk

        rows = _topk(
            idx, args.query, k=(args.page + 1) * args.page_size, mode="bmw", conjunctive=True
        ).collect()
        data = [r.asDict() for r in rows[args.page * args.page_size :]]
        print(json.dumps({"success": True, "data": data, "mode": "and"}, default=str, indent=2))
    else:
        engine = QueryEngine(
            idx, scoring=args.scoring, did_you_mean=args.did_you_mean
        )
        result = engine.search(args.query, page=args.page, page_size=args.page_size)
        print(json.dumps(result, default=str, indent=2))
    spark.stop()


if __name__ == "__main__":
    main()
