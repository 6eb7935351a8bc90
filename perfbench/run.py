"""Repository benchmark for the dedup engine.

    python3 perfbench/run.py --workload batch-mixed --seed 1 --seconds 20 --trace 0

Each invocation is one fresh local[4] driver process shaped like a
spark-submit of the engine's jobs: it builds (or reuses from the cache) the
workload's seeded input, starts the workload's oracle in a second process
while the JVM launches, runs the workload's measured work once, cold, as the
session's first work, checks every output against the oracle, and then sets
up SETUPS further sessions in the same JVM. Workloads (workloads.py):

  batch-mixed   Pipeline(fresh_wh).run(images).count()     (batch.py)
  stream-fuzzy  incremental_dedup_stream(fuzzy=True) drain  (stream.py)

--trace 0 reports the end-to-end metrics of BENCHMARK.json, each with its
unit and sample count on a '# ' line first:
  items_per_s  rows / wall of the measured work (images through the
               pipeline, landed rows through the stream's triggers)
  setup_s      median of SETUPS set-ups: session.get_spark (default warmup
               gate) + deploy.ensure_shipped + one trivial job
--trace 1 turns Spark's event log on and reports the per-layer metrics of
BENCHMARK.json; a layer the workload does not run reads 0. batch-mixed's
traced run also measures the query-registry layers (queryset.py).

--seconds is accepted for a command line shared with other benchmarks: the
measured work is one cold run of fixed size, so a run takes as long as that
work.

The last stdout line is one JSON object {correct, attempted, failed,
metrics}. The '# ' lines before it also give the failed share of the checked
operations, peak_rss_mb (the kernel's VmHWM of the driver and the JVM, read
after the run), the host facts and the CPU probe taken before and after the
run. Everything the run writes stays under .perfbench/ at the repository
root; inputs and oracles are cached there per (workload, seed).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

sys.path.insert(0, ROOT)  # the dedup package; sibling modules come from HERE

import batch  # noqa: E402
import stream  # noqa: E402
from common import CORES, Ctx, Session, isolate, jvm_pid, session_conf, start_oracle, stop_jvm  # noqa: E402
from probes import cpu_probe, host_facts, peak_rss_mb  # noqa: E402
from workloads import ROWS, ensure_input  # noqa: E402

MODULES = {"batch-mixed": batch, "stream-fuzzy": stream}


def declared(trace: int) -> dict[str, str]:
    """name -> unit of every metric BENCHMARK.json declares for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(MODULES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "dedup", "pipeline.py")):
        print(f"no dedup package under {ROOT}: nothing to benchmark", file=sys.stderr)
        return 2
    want = declared(args.trace)

    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    isolate(run_dir)
    info: dict = {"host": host_facts(), "cpu_probe_before": cpu_probe(CORES)}
    t0 = time.perf_counter()
    inp, orc, made = ensure_input(WORK, args.workload, args.seed)
    info["input_generated"], info["input_s"] = made, time.perf_counter() - t0
    proc = start_oracle(args.workload, inp, orc)
    info["oracle_cached"] = proc is None
    ctx = Ctx(args.seed, WORK, inp, orc, ROWS[args.workload], run_dir, proc, info)
    mod = MODULES[args.workload]
    ev_dir = ctx.path("events") if args.trace else None
    try:
        sess = Session(session_conf(run_dir, ev_dir))
        info["cold_setup_s"] = sess.cold_setup_s
        try:
            metrics = mod.traced(ctx, sess, ev_dir) if args.trace else mod.untraced(ctx, sess)
            info["peak_rss_mb"] = peak_rss_mb([os.getpid(), jvm_pid()])
        finally:
            sess.stop()
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    info["cpu_probe_after"] = cpu_probe(CORES)
    if args.trace:
        from replay import LAYER_MOVES

        info["layer_moves"] = LAYER_MOVES
    info["ops_failed_frac"] = ctx.failed / max(1, ctx.attempted)

    unknown = set(metrics) - set(want)
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    for name, unit in want.items():
        value, got_unit, n = metrics.get(name, (0.0, unit, 0))
        if got_unit != unit:
            raise RuntimeError(f"{name}: unit {got_unit} but BENCHMARK.json says {unit}")
        print(f"# {args.workload} {name} = {value:.6g} {unit} (n={n})")
    for k, v in info.items():
        print(f"# {k}: {json.dumps(v)}")
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {name: {"value": metrics.get(name, (0.0,))[0], "unit": unit}
                    for name, unit in want.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
