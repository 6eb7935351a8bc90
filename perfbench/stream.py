"""stream-fuzzy: drain a landing directory with
`streaming.incremental_dedup_stream(available_now=True,
max_files_per_trigger=1, fuzzy=True)`, one trigger per landed file, on a
fresh warehouse and checkpoint. The first trigger is the session's first
work, as under a spark-submit of jobs/stream.py.

Checked per trigger against the brute-force oracle of all landed rows: every
row the trigger landed is assigned exactly once, and every stream cluster
lies inside one oracle cluster (refine-never-split).

Traced, every Spark job is tagged with the micro-batch that submitted it
(the `streaming.sql.batchId` job property), and a warm traced / untraced
pair of single-file drains gives trace.overhead_s.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import tempfile
import time

from common import MB, Ctx, Session, session_conf, setup_metric
from spans import Spans, read_event_log, rollup_batches
from workloads import load_oracle


def drain(sess: Session, landing: str, wh: str) -> tuple[float, list[dict]]:
    """One availableNow drain; returns (wall seconds, progress per trigger)."""
    from dedup.streaming import incremental_dedup_stream

    t0 = time.perf_counter()
    q = incremental_dedup_stream(
        sess.spark, landing, wh, os.path.join(wh, "_checkpoint"),
        available_now=True, max_files_per_trigger=1, fuzzy=True,
    )
    q.awaitTermination()
    wall = time.perf_counter() - t0
    return wall, [p for p in q.recentProgress if p["numInputRows"] > 0]


def med(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in glob.glob(os.path.join(path, "**"), recursive=True)
               if os.path.isfile(f))


def check(ctx: Ctx, sess: Session, wh: str, triggers: int) -> None:
    import pyarrow.parquet as pq

    clusters = load_oracle(ctx.orc)["clusters"]
    asg = sess.spark.read.parquet(os.path.join(wh, "stream_assignments")).collect()
    # trigger b lands file b: the files' mtimes are in name order
    files = [set(pq.read_table(f, columns=["image_id"]).column(0).to_pylist())
             for f in sorted(glob.glob(os.path.join(ctx.inp, "*.parquet")))]
    seen: dict[str, list[str]] = {}
    by_batch: dict[int, set[str]] = {}
    for r in asg:
        seen.setdefault(r["image_id"], []).append(r["cluster_id"])
        by_batch.setdefault(r["batch_id"], set()).add(r["image_id"])
    roots: dict[str, set[str]] = {}
    for img, cids in seen.items():
        for cid in cids:
            roots.setdefault(cid, set()).add(clusters.get(img, "?"))
    split = {cid for cid, rs in roots.items() if len(rs) > 1}
    for b in range(max(triggers, len(files))):
        ids = by_batch.get(b, set())
        want = files[b] if b < len(files) else set()
        once = all(len(seen[i]) == 1 for i in ids)
        refine = not any(seen[i][0] in split for i in ids)
        ctx.record(ids == want and once and refine,
                   f"trigger {b}: rows {len(ids)}/{len(want)} once={once} refine={refine}")


def untraced(ctx: Ctx, sess: Session) -> dict:
    ctx.wait_oracle()
    wh = ctx.path("wh")
    wall, prog = drain(sess, ctx.inp, wh)
    check(ctx, sess, wh, len(prog))
    setups = sess.setups(session_conf(ctx.run_dir))
    trig = [p["durationMs"]["triggerExecution"] / 1000 for p in prog]
    ctx.info.update(drain_s=wall, trigger_s=trig, trigger_p50_s=med(trig), setup_samples_s=setups)
    return {
        "items_per_s": (ctx.rows / wall, "1/s", 1),
        "setup_s": setup_metric(setups),
    }


def traced(ctx: Ctx, sess: Session, ev_dir: str) -> dict:
    spans = Spans()
    ctx.wait_oracle()
    wh = ctx.path("wh")
    with spans.span("streaming"):
        wall, prog = drain(sess, ctx.inp, wh)
    check(ctx, sess, wh, len(prog))
    state_b = _dir_bytes(os.path.join(wh, "stream_state"))
    # a one-file landing directory: the overhead pair's unit is one trigger
    one = ctx.path("landing1")
    os.makedirs(one)
    first = sorted(glob.glob(os.path.join(ctx.inp, "*.parquet")))[0]
    shutil.copy2(first, one)
    overhead, walls = sess.overhead(
        session_conf(ctx.run_dir, ev_dir), session_conf(ctx.run_dir),
        lambda: drain(sess, one, tempfile.mkdtemp(prefix="wh", dir=ctx.run_dir))[0],
    )
    per = rollup_batches(read_event_log(ev_dir), spans, "streaming")
    ctx.info.update(drain_s=wall, overhead_drains_s=walls)
    return {
        "streaming.trigger_p50_s": (med([p["durationMs"]["triggerExecution"] / 1000 for p in prog]), "s", len(prog)),
        "streaming.add_batch_s": (med([p["durationMs"]["addBatch"] / 1000 for p in prog]), "s", len(prog)),
        "streaming.jobs_per_trigger": (med([s.jobs for s in per]), "count", len(per)),
        "streaming.cpu_s": (med([s.cpu_ns / 1e9 for s in per]), "s", len(per)),
        "streaming.udf_gap_s": (med([s.udf_gap_s for s in per]), "s", len(per)),
        "streaming.shuffle_mb": (med([s.shuffle_write_b / MB for s in per]), "MB", len(per)),
        "streaming.state_mb_per_trigger": (state_b / MB / max(1, len(prog)), "MB", 1),
        "trace.overhead_s": (overhead, "s", 1),
    }
