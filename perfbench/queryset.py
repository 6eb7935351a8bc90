"""The query-registry layers, measured in batch-mixed's traced run: one pass
over the measured registry queries (`dedup.queries.REGISTRY`, families in
workloads.FAMILIES) on the seed's generated query tables, each query
collected to the driver under its own span.

Checked, untimed, after the pass: a query with a DuckDB twin must match the
twin's row count, columns and value hash (the oracle, computed once per
seed); the rows-only queries (q26 q33 q50 q57) must pass the brute-force
gates of tools/check_contract.py, fed the rows the pass collected.
"""

from __future__ import annotations

import contextlib
import io
import os
import time

from common import Ctx, Session
from spans import SpanStats, Spans
from workloads import compute_oracle, ensure_input, load_oracle, query_names


class _Collected:
    def __init__(self, rows):
        self.rows = rows

    def collect(self):
        return self.rows


def run(ctx: Ctx, sess: Session, spans: Spans) -> None:
    """Generate (or reuse) the seed's tables and oracle, then run and check
    the pass; the spans price it."""
    from dedup.queries import REGISTRY

    sf_dir, orc, _ = ensure_input(ctx.work, "query-tables", ctx.seed)
    if not os.path.exists(orc):
        compute_oracle("query-tables", sf_dir, orc)
    got = {}
    for names in query_names().values():
        for name in names:
            with spans.span(name):
                df = REGISTRY[name][0](sess.spark, sf_dir)
                got[name] = (df.columns, df.collect())
    check(ctx, sess, got, sf_dir, load_oracle(orc))


def check(ctx: Ctx, sess: Session, got: dict, sf_dir: str, want: dict) -> None:
    from tools.check_contract import run_gates, value_hash

    gated = {}
    for name, (cols, rows) in got.items():
        if name not in want:
            gated[name] = lambda spark, sf, rows=rows: _Collected(rows)
            continue
        w = want[name]
        ok = (len(rows) == w["rows"] and [c.lower() for c in cols] == w["columns"]
              and value_hash(cols, [tuple(r) for r in rows]) == w["hash"])
        ctx.record(ok, f"{name}: rows {len(rows)}/{w['rows']} or value hash differs from its DuckDB twin")
    buf = io.StringIO()
    t0 = time.perf_counter()
    with contextlib.redirect_stdout(buf):
        failures = run_gates(sess.spark, sf_dir, gated)
    ctx.info["query_gates_s"] = time.perf_counter() - t0
    for line in buf.getvalue().splitlines():
        print(f"# {line}")
    for name in gated:
        ctx.record(f"gate_{name.split('_', 1)[0]}" not in failures, f"{name}: brute-force gate")


def metrics(stats: dict[str, SpanStats], spans: Spans) -> dict:
    m: dict = {}
    for fam, members in query_names().items():
        for name in members:
            m[f"queries.{name.split('_', 1)[0]}_s"] = (spans.self_s(name), "s")
        st = [stats.get(n, SpanStats()) for n in members]
        m[f"queries.{fam}_s"] = (sum(spans.self_s(n) for n in members), "s")
        m[f"queries.{fam}.cpu_s"] = (sum(s.cpu_ns for s in st) / 1e9, "s")
        m[f"queries.{fam}.udf_gap_s"] = (sum(s.udf_gap_s for s in st), "s")
        m[f"queries.{fam}.jobs"] = (sum(s.jobs for s in st), "count")
    return m
