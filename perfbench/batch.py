"""batch-mixed: one cold `Pipeline(fresh_wh).run(...).count()`, the run a
spark-submit of jobs/dedupe.py makes, checked against the brute-force oracle
(dup-pair recall >= MIN_RECALL and exact cluster equality).

Untraced it reports items_per_s (images / wall of the cold run) and setup_s;
the dup-pair recall is printed. Traced, the session has Spark's event log on
from its start and the cold run is priced under a `pipeline` span; the
per-layer replay (replay.py) then reruns each layer alone on that run's
committed stages, the query-registry pass (queryset.py) prices the registry's
relational, dedup and ANN queries, and a warm traced / untraced pair of
whole runs gives trace.overhead_s.
"""

from __future__ import annotations

import contextlib
import shutil
import time

import queryset
from common import MB, Ctx, Session, session_conf, setup_metric
from spans import SpanStats, Spans, read_event_log, rollup
from workloads import cluster_check, load_oracle

MIN_RECALL = 0.99


class Runner:
    """Runs Pipeline.run on fresh warehouses and checks each against the oracle."""

    def __init__(self, ctx: Ctx, sess: Session):
        self.ctx = ctx
        self.sess = sess
        self.recalls: list[float] = []
        self.seq = 0
        self.oracle: dict = {}

    def run(self, spans: Spans | None = None, keep: bool = False) -> tuple[float, str]:
        """One `Pipeline(fresh_wh).run(...).count()`, timed; returns (wall
        seconds, warehouse). Then, untimed: the oracle check, and removal of
        the warehouse unless `keep`."""
        from dedup.pipeline import Pipeline

        spark = self.sess.spark
        wh = self.ctx.path(f"wh{self.seq}")
        self.seq += 1
        images = spark.read.parquet(self.ctx.inp)
        t0 = time.perf_counter()
        with spans.span("pipeline") if spans else contextlib.nullcontext():
            Pipeline(wh, band_groups="auto").run(spark, images).count()
        wall = time.perf_counter() - t0
        got = {r["image_id"]: r["cluster_id"]
               for r in Pipeline(wh).wh.read(spark, "assignments").collect()}
        self.check(got)
        if not keep:
            shutil.rmtree(wh, ignore_errors=True)
        return wall, wh

    def check(self, got: dict) -> None:
        if not self.oracle:
            self.oracle = load_oracle(self.ctx.orc)
        recall, equal = cluster_check(got, self.oracle["pairs"], self.oracle["clusters"])
        self.recalls.append(recall)
        self.ctx.record(recall >= MIN_RECALL and equal,
                        f"recall={recall:.4f} cluster_equality={equal}")


def untraced(ctx: Ctx, sess: Session) -> dict:
    plain = session_conf(ctx.run_dir)
    runner = Runner(ctx, sess)
    ctx.wait_oracle()
    cold, _ = runner.run()
    setups = sess.setups(plain)
    ctx.info.update(cold_run_s=cold, dup_pair_recall=runner.recalls, setup_samples_s=setups)
    return {
        "items_per_s": (ctx.rows / cold, "1/s", 1),
        "setup_s": setup_metric(setups),
    }


def traced(ctx: Ctx, sess: Session, ev_dir: str) -> dict:
    from dedup.config import DEFAULT
    from dedup.io import Warehouse
    from replay import LAYERS, replay

    spans = Spans()
    plain, logged = session_conf(ctx.run_dir), session_conf(ctx.run_dir, ev_dir)
    runner = Runner(ctx, sess)
    ctx.wait_oracle()
    wall_cold, upstream = runner.run(spans=spans, keep=True)
    facts = replay(sess.spark, ctx.inp, upstream, ctx.path("replay"), DEFAULT, spans)
    runner.check(facts["assignments"])
    queryset.run(ctx, sess, spans)
    overhead, walls = sess.overhead(logged, plain, lambda: runner.run()[0])
    stats = rollup(read_event_log(ev_dir), spans)
    ctx.info["cold_run_s"] = wall_cold
    ctx.info["overhead_runs_s"] = walls
    ctx.info["probes"] = {k: facts[k] for k in ("minhash_verified", "minhash_probes", "phash_edges", "phash_probes")}

    m: dict = {}
    for layer in LAYERS:
        st = stats.get(layer, SpanStats())
        m[f"{layer}.self_s"] = (spans.self_s(layer), "s")
        m[f"{layer}.cpu_s"] = (st.cpu_ns / 1e9, "s")
        m[f"{layer}.udf_gap_s"] = (st.udf_gap_s, "s")
        m[f"{layer}.shuffle_mb"] = (st.shuffle_write_b / MB, "MB")
        m[f"{layer}.spill_mb"] = (st.spill_b / MB, "MB")
        m[f"{layer}.jobs"] = (st.jobs, "count")
        m[f"{layer}.task_skew"] = (st.task_skew, "ratio")
        m[f"{layer}.rows_out"] = (facts["rows"].get(layer, 0), "rows")
    m["lsh.minhash_band.yield"] = (facts["minhash_verified"] / max(1, facts["minhash_probes"]), "ratio")
    m["lsh.phash.yield"] = (facts["phash_edges"] / max(1, facts["phash_probes"]), "ratio")
    # the driver union-find fast path collects the edges with toArrow
    cc_sites = stats.get("components", SpanStats()).call_sites
    m["components.route"] = (int(any(s.startswith("toArrow") for s in cc_sites)), "flag")
    pipe = stats.get("pipeline", SpanStats())
    m["io.commits"] = (len(Warehouse(upstream, DEFAULT.config_hash()).lineage()), "count")
    m["io.mb_written"] = (pipe.out_b / MB, "MB")
    m["pipeline.jobs"] = (pipe.jobs, "count")
    m["pipeline.overlap"] = (sum(spans.self_s(x) for x in LAYERS) / wall_cold, "ratio")
    m["trace.overhead_s"] = (overhead, "s")
    m.update(queryset.metrics(stats, spans))
    shutil.rmtree(upstream, ignore_errors=True)
    return {k: (v, u, 1) for k, (v, u) in m.items()}
