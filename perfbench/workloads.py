"""Seeded benchmark inputs and their oracles, cached per (input, seed).

  batch-mixed    one images parquet: the `dedup.synth.generate` default mix
                 (viral caption, exact / re-encode / near-image / caption-edit
                 / fragment families, singletons), 16-64 px images.
  stream-fuzzy   a landing directory of STREAM_FILES parquet files, the same
                 mix shuffled so that duplicates land in different files,
                 each file with its own mtime (oldest first is trigger order).
  query-tables   the seven tables the measured registry queries read (in
                 batch-mixed's traced run), shaped like the engine's sf0.01
                 test tables; the 500 documents are word sequences over a
                 small vocabulary with planted near-duplicate pairs, the 500
                 embeddings 64-d unit vectors in 10 label clusters.

The oracle of the images inputs is `reference_impl.oracle_pairs` +
`oracle_clusters` over every input row; the oracle of the query tables is
each measured query's DuckDB twin (`dedup.queries.oracle_sql`) reduced to
row count, columns and the order-insensitive value hash of
tools/check_contract.py. Inputs and oracles are written atomically (tmp +
rename), so an interrupted run never leaves a truncated cache entry behind.

Run as a script to compute one oracle cache entry in its own process:

    python3 perfbench/workloads.py <input kind> <input> <oracle.json>
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

# bump when a generator's output changes, so stale cache entries are not reused
GENERATOR_VERSION = 6

# rows per input (query-tables: rows of each table)
ROWS = {"batch-mixed": 2000, "stream-fuzzy": 300, "query-tables": 500}
STREAM_FILES = 2

# the measured query families, in run order
FAMILIES = {
    "relational": "q01 q04 q09 q12 q40 q46 q47",
    "dedup": "q18 q20 q26 q27 q28 q29 q41 q48 q53 q55 q56",
    "ann": "q24 q33 q43 q50 q57",
}


def query_names() -> dict[str, list[str]]:
    """family -> registry names, in run order."""
    from dedup.queries import REGISTRY

    by_prefix = {name.split("_", 1)[0]: name for name in REGISTRY}
    return {fam: [by_prefix[p] for p in qs.split()] for fam, qs in FAMILIES.items()}


# ---------------------------------------------------------------- images


def _images(seed: int, rows: int) -> list[dict]:
    from dedup import synth

    return synth.generate(rows, seed=seed)


def _write(table: pa.Table, path: str, row_group_size: int = 1024) -> None:
    tmp = f"{path}.{os.getpid()}.tmp"
    # small row groups so the scan splits across all cores (synth.write_parquet)
    pq.write_table(table, tmp, row_group_size=row_group_size)
    os.replace(tmp, path)


def _landing(seed: int, rows: int, path: str) -> None:
    from dedup import synth

    data = _images(seed, rows)
    order = np.random.default_rng([seed, 0x57EA]).permutation(len(data))
    data = [data[i] for i in order]
    tmp = f"{path}.{os.getpid()}.tmp"
    os.makedirs(tmp)
    per = -(-len(data) // STREAM_FILES)
    for k in range(STREAM_FILES):
        f = os.path.join(tmp, f"part{k:03d}.parquet")
        pq.write_table(synth.to_arrow(data[k * per:(k + 1) * per]), f)
        os.utime(f, (1_600_000_000 + k, 1_600_000_000 + k))  # trigger order
    os.replace(tmp, path)


# ---------------------------------------------------------------- tables

_VOCAB = (
    "a the row key agg hash join scan sort data line part fast slow big small "
    "merge batch value table column query spark order group filter window stream "
    "vector customer"
).split()


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word sequences of 10-99 words; 25 documents are copies of an
    earlier one with 1-2 words replaced, so near-duplicate pairs exist."""
    texts = [" ".join(rng.choice(_VOCAB, int(rng.integers(10, 100)))) for _ in range(n)]
    for j in rng.choice(np.arange(n // 2, n), 25, replace=False):
        words = texts[int(rng.integers(0, n // 2))].split()
        for _ in range(int(rng.integers(1, 3))):
            words[int(rng.integers(len(words)))] = str(rng.choice(_VOCAB))
        texts[int(j)] = " ".join(words)
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": np.array(["en", "en", "en", "de", "es", "fr", "zh"])[rng.integers(0, 7, n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors in 10 label clusters: unit-variance noise plus 0.7 times
    the label's direction, so most vectors' nearest neighbours share their
    label, as with embedding-model output, the regime where q50's bounded-
    probe IVF is well posed (dedup/queries.py q50). On near-random vectors
    like the engine's sf0.01 test table its recall@1 gate (>= 0.8 over 5
    probes) failed on 3 of 12 seeds, and q33's recall gate is estimated over
    only ~20 pairs with cosine >= 0.4, so one LSH miss moves it by 0.05;
    here there are ~900."""
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 1, (10, dim))
    x = rng.normal(0, 1, (n, dim)) + 0.7 * centers[labels]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def _days(rng: np.random.Generator, start: str, span: int, n: int) -> pa.Array:
    days = np.datetime64(start, "us") + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(days, pa.timestamp("us"))


def generate_tables(seed: int, n_docs: int) -> dict[str, pa.Table]:
    """The seven tables the measured queries read, at the sf0.01 shape: 25
    nations, 1.5k customers, 15k orders, 60k lineitems, 10k events, and
    n_docs documents and embeddings."""
    rng = np.random.default_rng([seed, 0x7AB1E])
    i32, i64 = pa.int32(), pa.int64()
    n_cust, n_ord, n_li, n_ev = 1500, 15000, 60000, 10000
    t = {"nation": pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })}
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                  "MACHINERY"])[rng.integers(0, 5, n_cust)],
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _days(rng, "1995-01-01", 2405, n_ord),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, 2000, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, 100, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(20, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_li),
    })
    micros = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev)).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": pa.array(range(n_ev), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + micros, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_ev), i64),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[rng.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(rng.exponential(50, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_docs)
    return t


def _tables(seed: int, rows: int, path: str) -> None:
    tmp = f"{path}.{os.getpid()}.tmp"
    os.makedirs(tmp)
    for name, table in generate_tables(seed, rows).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.replace(tmp, path)


# ---------------------------------------------------------------- cache


def ensure_input(work: str, kind: str, seed: int) -> tuple[str, str, bool]:
    """(input path, oracle path, generated now?) for one (input kind, seed)."""
    rows = ROWS[kind]
    stem = os.path.join(work, "inputs", f"{kind}-n{rows}-s{seed}-v{GENERATOR_VERSION}")
    path = stem + (".parquet" if kind == "batch-mixed" else "")
    made = False
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        if kind == "batch-mixed":
            from dedup import synth

            _write(synth.to_arrow(_images(seed, rows)), path)
        elif kind == "stream-fuzzy":
            _landing(seed, rows, path)
        else:
            _tables(seed, rows, path)
        made = True
    return path, stem + ".oracle.json", made


def _images_oracle(input_path: str) -> dict:
    from dedup.reference_impl import oracle_clusters, oracle_pairs

    rows = pq.read_table(input_path).to_pylist()
    pairs = oracle_pairs(rows)
    return {"pairs": sorted(pairs), "clusters": oracle_clusters(rows, pairs)}


def _queries_oracle(sf_dir: str) -> dict:
    import duckdb

    from dedup.queries import oracle_sql
    from tools.check_contract import value_hash

    con = duckdb.connect()
    for f in os.listdir(sf_dir):
        con.sql(f"CREATE VIEW {f.removesuffix('.parquet')} AS SELECT * FROM read_parquet('{sf_dir}/{f}')")
    sql = oracle_sql()
    out = {}
    for names in query_names().values():
        for name in names:
            if name in sql:
                res = con.sql(sql[name])
                cols, rows = list(res.columns), res.fetchall()
                out[name] = {"rows": len(rows), "columns": [c.lower() for c in cols],
                             "hash": value_hash(cols, rows)}
    return out


def compute_oracle(kind: str, input_path: str, oracle_path: str) -> None:
    d = _queries_oracle(input_path) if kind == "query-tables" else _images_oracle(input_path)
    tmp = f"{oracle_path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(d, f)
    os.replace(tmp, oracle_path)


def load_oracle(oracle_path: str) -> dict:
    with open(oracle_path) as f:
        return json.load(f)


def cluster_check(
    got: dict[str, str], pairs: list, clusters: dict[str, str]
) -> tuple[float, bool]:
    """(dup-pair recall, exact cluster equality) of one assignments table."""
    hit = sum(1 for a, b in pairs if got.get(a) is not None and got.get(a) == got.get(b))
    return (hit / len(pairs) if pairs else 1.0), got == clusters


if __name__ == "__main__":
    compute_oracle(*sys.argv[1:4])
