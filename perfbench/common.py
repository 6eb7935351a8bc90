"""What every workload shares: the isolated run directory, the session the
benchmark opens (shaped like a spark-submit of the engine's jobs), the
oracle process, the correctness tally, the set-up measurement and the
tracing-overhead pair."""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import tempfile
import time
from collections.abc import Callable
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
CORES = 4
DRIVER_MEMORY = "3g"
SETUPS = 5
MB = float(1 << 20)


def isolate(run_dir: str) -> None:
    """Point every temp and scratch path of Python, the JVM and Spark into
    run_dir, before anything launches."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # every JVM, the spark-submit launcher's too, keeps its temp and
    # perf-data files out of the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = None  # re-read TMPDIR


def session_conf(run_dir: str, event_log: str | None = None) -> dict[str, str]:
    conf = {
        # what a spark-submit of these input sizes passes: the engine's
        # default (8g at local[4]) lets G1 grow the heap past 9 GB RSS
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def new_session(conf: dict[str, str]):
    """get_spark (default warmup gate) + ensure_shipped + one trivial job;
    returns (spark, seconds)."""
    from dedup import deploy
    from dedup.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cores=CORES, extra=conf)
    deploy.ensure_shipped(spark)
    spark.range(1).count()
    dt = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, dt


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return gw.proc.pid if gw is not None and gw.proc is not None else None


def stop_jvm() -> None:
    """The JVM pyspark launched exits when its stdin closes; wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None and gw.proc is not None:
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)


def start_oracle(workload: str, inp: str, orc: str):
    """Start the workload's oracle in its own process unless it is cached;
    it runs while the JVM launches."""
    if os.path.exists(orc):
        return None
    return subprocess.Popen(
        [sys.executable, os.path.join(HERE, "workloads.py"), workload, inp, orc])


@dataclass
class Ctx:
    """One invocation: its input, oracle, directories and printed facts."""
    seed: int
    work: str
    inp: str
    orc: str
    rows: int
    run_dir: str
    oracle_proc: subprocess.Popen | None
    info: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0

    def wait_oracle(self) -> None:
        """Join the oracle process, which ran alongside the JVM launch, so
        that nothing else competes for the cores while anything is timed."""
        t0 = time.perf_counter()
        p = self.oracle_proc
        if p is not None and p.wait() != 0:
            raise RuntimeError(f"oracle process exited with {p.returncode}")
        self.info["oracle_wait_s"] = time.perf_counter() - t0

    def record(self, ok: bool, what: str) -> None:
        """Count one checked operation; a failure is printed and counted."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"# FAIL {what}", flush=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)


class Session:
    """The live SparkSession of one invocation; restart() opens a new
    SparkContext in the same JVM (fresh Python workers, warm JIT)."""

    def __init__(self, conf: dict[str, str]):
        self.spark, self.cold_setup_s = new_session(conf)

    def restart(self, conf: dict[str, str]) -> float:
        self.spark.stop()
        self.spark, dt = new_session(conf)
        return dt

    def setups(self, conf: dict[str, str]) -> list[float]:
        """SETUPS set-ups after the measured work, so that work ran first
        in the fresh JVM, as it does under spark-submit."""
        return [self.restart(conf) for _ in range(SETUPS)]

    def overhead(self, logged: dict, plain: dict, unit: Callable[[], float]) -> tuple[float, list[float]]:
        """Tracing overhead of one warm unit of work: its wall on a context
        restarted with the event log on minus its wall on one restarted
        without it (each restart forks fresh Python workers, so both pay
        the same worker start-up)."""
        walls = []
        for conf in (logged, plain):
            self.restart(conf)
            walls.append(unit())
        return walls[0] - walls[1], walls

    def stop(self) -> None:
        self.spark.stop()


def setup_metric(setups: list[float]) -> tuple[float, str, int]:
    return statistics.median(setups), "s", len(setups)
