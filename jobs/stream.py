"""spark-submit entry for the incremental (streaming) dedup tier.

Production launch:

    spark-submit --py-files dedup_pkg.zip jobs/stream.py \
        --landing warehouse/landing --warehouse warehouse/stream_run \
        [--cores N] [--follow] [--max-files-per-trigger K] \
        [--compact] [--compact-run-id RUN]

Default mode drains everything currently in --landing (availableNow) and
exits — the cron-friendly shape: each invocation picks up exactly the files
that arrived since the last one, resuming from the checkpoint under
--warehouse. --follow instead keeps the query running and assigns new files
as they land (micro-batch per arrival).

--compact additionally runs the full fuzzy pipeline (MinHash/pHash/
substring tiers) over the accumulated landing dir after the drain and
reports the compacted cluster count; stream clusters only ever merge under
compaction (refine-never-split, pinned in tests/test_streaming.py), and the
compaction warehouse is itself resumable per stage.

Outputs under --warehouse:
    stream_assignments/batch_id=*/   (image_id, cluster_id) per micro-batch
    stream_state/                    key state of every tier (exact, and with
                                     --fuzzy band + pHash), partitioned
                                     tier=*/bucket=*, one manifest, one
                                     atomic commit per micro-batch
    compact/{run_id}/                full-pipeline warehouse (with --compact)
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
    ap.add_argument("--landing", required=True, help="parquet landing directory to watch")
    ap.add_argument("--warehouse", required=True, help="stream warehouse (state + output)")
    ap.add_argument("--cores", type=int, default=None, help="local[N] cores (sandbox)")
    ap.add_argument("--follow", action="store_true",
                    help="keep running and process arrivals (default: drain and exit)")
    ap.add_argument("--max-files-per-trigger", type=int, default=None,
                    help="bound each micro-batch to K input files")
    ap.add_argument("--fuzzy", action="store_true",
                    help="also link near-duplicates in-stream: captions "
                         "(MinHash band keys + exact-Jaccard verify) and "
                         "images (pHash chunk-pair keys + Hamming verify)")
    ap.add_argument("--compact", action="store_true",
                    help="run fuzzy-tier batch compaction after the drain")
    ap.add_argument("--compact-run-id", default="compact0")
    args = ap.parse_args()

    from dedup.fs import get_fs
    from dedup.session import get_spark
    from dedup.streaming import compact_fuzzy, incremental_dedup_stream

    spark = get_spark("stream-dedupe", cores=args.cores)
    try:
        t0 = time.time()
        ckpt = os.path.join(args.warehouse, "checkpoint")
        q = incremental_dedup_stream(
            spark, args.landing, args.warehouse, ckpt,
            available_now=not args.follow,
            max_files_per_trigger=args.max_files_per_trigger,
            fuzzy=args.fuzzy,
        )
        q.awaitTermination()  # --follow: runs until externally stopped
        out = {}
        asg_dir = os.path.join(args.warehouse, "stream_assignments")
        if get_fs(asg_dir).exists(asg_dir):  # fs shim: warehouse may be hdfs://-s3a://
            asg = spark.read.parquet(asg_dir)
            out["assignments"] = asg.count()
            out["stream_clusters"] = asg.select("cluster_id").distinct().count()
        else:  # nothing has ever landed
            out["assignments"] = out["stream_clusters"] = 0
        if args.compact:
            compacted = compact_fuzzy(
                spark, args.landing, args.warehouse, run_id=args.compact_run_id
            )
            out["compact_clusters"] = compacted.select("cluster_id").distinct().count()
        out["wall_sec"] = round(time.time() - t0, 2)
        out["warehouse"] = args.warehouse
        print(json.dumps(out))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
