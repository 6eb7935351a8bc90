"""Host facts, a fixed CPU probe and peak memory, read from /proc."""

from __future__ import annotations

import hashlib
import os
import threading
import time


def _hash(mb: int) -> None:
    buf = b"\x5a" * (1 << 20)
    h = hashlib.sha256()
    for _ in range(mb):
        h.update(buf)  # releases the GIL: threads hash in parallel


def cpu_probe(threads: int, mb: int = 32) -> dict:
    """Fixed CPU probe: sha256 over `mb` MiB on 1 thread, then on `threads`
    threads at once. Taken before and after a run, it shows how much of the
    shared host the run had: `effective_cores` is the parallel rate over the
    single-thread rate."""
    t0 = time.perf_counter()
    _hash(mb)
    one = mb / (time.perf_counter() - t0)
    workers = [threading.Thread(target=_hash, args=(mb,)) for _ in range(threads)]
    t0 = time.perf_counter()
    for w in workers:
        w.start()
    for w in workers:
        w.join()
    par = threads * mb / (time.perf_counter() - t0)
    return {"mb_per_s_1t": round(one, 1), f"mb_per_s_{threads}t": round(par, 1),
            "effective_cores": round(par / one, 2)}


def host_facts() -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_count": os.cpu_count(),
        "loadavg_1m": os.getloadavg()[0],
    }


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the kernel's resident-set high-water marks (VmHWM) of `pids`:
    read once, after the run, so nothing samples while it is timed."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            total_kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return total_kb / 1024

