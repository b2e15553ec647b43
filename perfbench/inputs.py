"""Seeded inputs of the benchmark and their DuckDB oracles.

Everything here is a function of the workload seed: the same seed gives the
same files, byte for byte, and the same literal pools.  Nothing is read from
outside the work directory.

* The token table is ``rlv.tokens.synth_token_pdf`` (all eleven FIXTURES
  families) written as ``TOKEN_FILES`` parquet files of one row group each,
  so ``engine_files.plan_splits`` packs ``ENCODE_TASKS`` splits.
* The query table follows ``jobs/query_drill.py``: ``REPLICAS`` shifted
  replicas of an orders-shaped table (150,000 rows each, the size of TPC-H
  sf0.1 ``orders``) with a clustered unique key ``k``, scattered ``cents``,
  nullable ``custkey_n`` and ``pri_n`` and a prefix-structured ``clerk``.
  Each replica is drawn from its own seeded stream; a clerk serves one run
  of 150 consecutive orders, so a clerk literal sits in one or two blocks.
* The dim table holds the ~100 distinct ``custkey_n`` of a seeded window of
  150 custkeys, with an attribute ``seg``, as in the drill's join leg.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TOKEN_DOCS = 12_000
TOKEN_FILES = 16
ENCODE_TASKS = 8

REPLICAS = 8
ORDERS_PER_REPLICA = 150_000
ORDERKEY_SPAN = 600_000  # TPC-H sf0.1 orderkeys: 8 used of every 32
STRIDE = ORDERKEY_SPAN + 1
CUSTKEYS = 15_000
ORDERS_PER_CLERK = 150
QUERY_TASKS = 4
CLERKS = REPLICAS * -(-ORDERS_PER_REPLICA // ORDERS_PER_CLERK)
ROWS_PER_BLOCK = 4096
DIM_WINDOW = 150

PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
POOL = 8  # seeded literal sets per selective / scan op kind

TOKEN_SCHEMA = pa.schema([
    ("doc_id", pa.string()), ("tokens", pa.list_(pa.int32())),
    ("n_tok", pa.int32()), ("source", pa.string()),
])


def token_table(seed: int, out_dir: str, tracer) -> dict:
    """Write the seeded token table; returns its sizes, its run count (an
    input property, through ``kernels.rle.count_runs``) and a document
    sample for the driver-side kernel replay."""
    from rlv import tokens
    from rlv.kernels import rle

    pdf = tracer.call("tokens.synth_token_pdf", tokens.synth_token_pdf,
                      TOKEN_DOCS, seed=seed)
    os.makedirs(out_dir, exist_ok=True)
    for i in range(TOKEN_FILES):
        part = pdf.iloc[i::TOKEN_FILES]
        pq.write_table(
            pa.Table.from_pandas(part, schema=TOKEN_SCHEMA,
                                 preserve_index=False),
            os.path.join(out_dir, f"part-{i:03d}.parquet"),
        )
    rng = np.random.default_rng([seed, 1])
    sample_idx = np.sort(rng.choice(len(pdf), size=min(1500, len(pdf)),
                                    replace=False))
    return {
        "docs": len(pdf),
        "tokens": int(pdf["n_tok"].sum()),
        "files": TOKEN_FILES,
        "sample": [np.asarray(pdf["tokens"].iloc[i], dtype=np.int32)
                   for i in sample_idx],
        "runs": sum(rle.count_runs(np.asarray(t, dtype=np.int32))
                    for t in pdf["tokens"]),
    }


def _orders_replica(seed: int, r: int) -> pa.Table:
    rng = np.random.default_rng([seed, 100 + r])
    n = ORDERS_PER_REPLICA
    i = np.arange(n)
    orderkey = (i // 8) * 32 + (i % 8) + 1
    cust = rng.integers(1, CUSTKEYS + 1, n)
    cust = np.where(cust % 3 == 0, cust - 1, cust)  # TPC-H skips every 3rd
    cents = rng.integers(85_000, 55_500_000, n)
    n_clerks = CLERKS // REPLICAS
    clerk_ids = rng.permutation(n_clerks) + r * n_clerks
    names = np.array([f"Clerk#{c:09d}" for c in clerk_ids], dtype=object)
    pri = np.array(PRIORITIES, dtype=object)[rng.integers(0, 5, n)]
    return pa.table({
        "k": pa.array(orderkey + r * STRIDE, pa.int64()),
        "cents": pa.array(cents, pa.int64()),
        "custkey_n": pa.array(cust, pa.int64(), mask=orderkey % 7 == 0),
        "pri_n": pa.array(pri, pa.string(), mask=orderkey % 5 == 3),
        "clerk": pa.array(names[i // ORDERS_PER_CLERK], pa.string()),
    })


def query_tables(seed: int, src_dir: str, dim_path: str) -> dict:
    """Write the query-table replicas and the dim table (DuckDB-staged)."""
    import duckdb

    os.makedirs(src_dir, exist_ok=True)
    for r in range(REPLICAS):
        pq.write_table(_orders_replica(seed, r),
                       os.path.join(src_dir, f"r{r:02d}.parquet"))
    rng = np.random.default_rng([seed, 2])
    lo = int(rng.integers(1, CUSTKEYS - DIM_WINDOW))
    con = duckdb.connect()
    try:
        con.sql(
            "COPY (SELECT DISTINCT custkey_n, "
            "CAST(custkey_n % 13 AS BIGINT) AS seg "
            f"FROM read_parquet('{src_dir}/*.parquet') "
            f"WHERE custkey_n BETWEEN {lo} AND {lo + DIM_WINDOW} "
            f"ORDER BY custkey_n) TO '{dim_path}' (FORMAT PARQUET)"
        )
        dim_rows = con.sql(
            f"SELECT count(*) FROM read_parquet('{dim_path}')").fetchone()[0]
    finally:
        con.close()
    return {
        "files": sorted(os.path.join(src_dir, f) for f in os.listdir(src_dir)),
        "rows": REPLICAS * ORDERS_PER_REPLICA,
        "kmax": REPLICAS * STRIDE,
        "dim_path": dim_path,
        "dim_rows": dim_rows,
    }


def oracle(src_dir: str, dim_path: str):
    """DuckDB over the staged query-table parquet, with views ``src`` and
    ``dim``: every query-op answer is computed here once, before any timed
    operation."""
    import duckdb

    con = duckdb.connect()
    con.sql("CREATE VIEW src AS SELECT * FROM "
            f"read_parquet('{src_dir}/*.parquet')")
    con.sql(f"CREATE VIEW dim AS SELECT * FROM read_parquet('{dim_path}')")
    return con


def one(con, sql: str):
    """The single value of a one-row, one-column query."""
    return con.sql(sql).fetchone()[0]


def _k_range(rng, kmax: int, width: int) -> tuple[int, int]:
    lo = int(rng.integers(0, kmax - width))
    return lo, lo + width


def selective_pool(seed: int, q: dict, con) -> dict:
    """Seeded literal sets of the selective ops, each with its oracle.
    Ranges on ``k`` cover 0.5-1% of the key space, so each op reads at
    most ~2% of the blocks."""
    rng = np.random.default_rng([seed, 3])
    kmax = q["kmax"]
    narrow, wide = kmax // 200, kmax // 100
    pool: dict[str, list[dict]] = {
        "count_range": [], "scan_str_eq": [], "agg_conj": [],
        "minmax_range": [],
    }
    for _ in range(POOL):
        lo, hi = _k_range(rng, kmax, narrow)
        pool["count_range"].append({"lo": lo, "hi": hi, "want": one(
            con, f"SELECT count(*) FROM src WHERE k BETWEEN {lo} AND {hi}")})
        lit = f"Clerk#{int(rng.integers(0, CLERKS)):09d}"
        pool["scan_str_eq"].append({"lit": lit, "want": one(
            con, f"SELECT count(*) FROM src WHERE clerk = '{lit}'")})
        lo, hi = _k_range(rng, kmax, wide)
        pris = sorted(rng.choice(PRIORITIES, size=2, replace=False).tolist())
        inlist = ", ".join(f"'{p}'" for p in pris)
        pool["agg_conj"].append({
            "lo": lo, "hi": hi, "pris": pris,
            "want": con.sql(
                "SELECT count(*), count(cents), sum(cents), min(cents), "
                f"max(cents) FROM src WHERE k BETWEEN {lo} AND {hi} "
                f"AND pri_n IN ({inlist})").fetchone(),
        })
        lo, hi = _k_range(rng, kmax, narrow)
        mn, mx, cnt = con.sql(
            "SELECT min(cents), max(cents), count(*) FROM src "
            f"WHERE k BETWEEN {lo} AND {hi}").fetchone()
        pool["minmax_range"].append(
            {"lo": lo, "hi": hi, "want": (mn, mx), "matched": cnt})
    return pool


def scan_pool(seed: int, q: dict, con) -> dict:
    """Seeded literal sets of the scan ops, each with its oracle."""
    rng = np.random.default_rng([seed, 4])
    kmax = q["kmax"]
    half = kmax // 2
    group_by = []
    for _ in range(POOL):
        lo, hi = _k_range(rng, kmax, half)
        rows = con.sql(
            "SELECT pri_n, count(*), count(cents), sum(cents), min(cents), "
            f"max(cents) FROM src WHERE k BETWEEN {lo} AND {hi} "
            "GROUP BY pri_n").fetchall()
        group_by.append({
            "lo": lo, "hi": hi,
            "want": sorted(rows, key=lambda r: (r[0] is None, r[0] or "")),
            "matched": sum(r[1] for r in rows),
        })
    top = con.sql("SELECT cents, k FROM src ORDER BY cents DESC, k "
                  "LIMIT 100").fetchall()
    join = con.sql(
        "SELECT count(*), sum(f.cents), sum(d.seg) FROM src f "
        "JOIN dim d ON f.custkey_n = d.custkey_n").fetchone()
    dim_keys = [r[0] for r in con.sql(
        "SELECT custkey_n FROM dim ORDER BY custkey_n").fetchall()]
    return {
        "scan_full": [{"lo": 0, "hi": kmax, "want": q["rows"]}],
        "group_by": group_by,
        "topk_100": [{"want": top, "threshold": top[-1][0]}],
        "join_dim": [{"want": join, "dim_keys": dim_keys}],
    }
