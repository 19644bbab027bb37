"""PageRank job: reads a built segment dir — or an incremental
multi-segment serving root (ingest.open_serving_index tells them apart) —
computes reference-exact PageRank over the GLOBAL doc link graph and
writes popularity back into each segment's docmap.

    python jobs/pagerank.py --segments /data/segments
    python jobs/pagerank.py --segments /data/serving_root
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
    ap.add_argument("--segments", required=True)
    ap.add_argument("--damping", type=float, default=0.85)
    ap.add_argument("--tol", type=float, default=1e-6)
    ap.add_argument("--max-iter", type=int, default=100)
    ap.add_argument(
        "--check-every", type=int, default=1,
        help="convergence-poll cadence (iterations per driver action); "
        "1 (default) = reference-exact per-iteration stopping; >1 cuts "
        "driver actions ~k x but can stop at a different iteration "
        "than the reference (the k-step L1 delta is usually, not "
        "provably, larger than the per-iteration delta)",
    )
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from functools import reduce

    from pyspark.sql import DataFrame

    from nadry_spark.operators.pagerank import apply_pagerank, pagerank
    from nadry_spark.session import get_spark
    from nadry_spark.streaming.ingest import open_serving_index

    spark = get_spark("nadry_pagerank", master=args.master)
    t0 = time.time()

    # a serving root opens as its family, a segment dir as the family
    # of one: rank over the GLOBAL live link graph (tombstoned
    # re-crawls excluded), then back-fill each segment's docmap with
    # its slice of the scores
    idx = open_serving_index(spark, args.segments)
    graph = reduce(DataFrame.unionByName, [
        idx._live(
            i,
            seg.docmap.select("doc_no", "url").join(
                seg.docs_content.select("doc_no", "links"), "doc_no"
            ),
        ).select("url", "links")
        for i, seg in enumerate(idx.segments)
    ])
    # checkpointed: the docmap swaps below replace the tables the
    # graph reads
    ranks = pagerank(
        graph, damping=args.damping, tol=args.tol,
        max_iter=args.max_iter, check_every=args.check_every,
    ).localCheckpoint()

    import shutil

    for seg in idx.segments:
        seg_dir = seg.path
        updated = apply_pagerank(seg.docmap, ranks)
        tmp = os.path.join(seg_dir, "docmap_new")
        updated.repartitionByRange(4, "doc_no").write.mode("overwrite").parquet(tmp)
        # atomic-ish swap
        final = os.path.join(seg_dir, "docmap")
        bak = os.path.join(seg_dir, "docmap_old")
        if os.path.exists(bak):
            shutil.rmtree(bak)
        os.replace(final, bak)
        os.replace(tmp, final)

    n_ranked = ranks.count()
    print(
        json.dumps(
            {
                "event": "pagerank_done",
                "n_ranked": n_ranked,
                "elapsed_sec": round(time.time() - t0, 2),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
