#!/usr/bin/env python
"""Generate the sf1 and sf10 fixtures by tiling the sf0.1 test data.

sf1 (10 replicas, every table): the five stage-floor-dominated headline
queries are sub-0.3s absolute at sf0.1 — below Spark's ~0.1s stage-launch
floor — so the per-query "within 2x of DuckDB" gate cannot be decided at
that scale. The 10x fixture (lineitem 6M rows, orders 1.5M, events 1M) lets
scripts/bench_sf1.py show where the crossover actually lands, with BOTH
engines reading the SAME parquet.

sf10 (100 replicas, every table but part, ~2.5 GB): at sf0.1/sf1 the
remaining >2x-of-DuckDB headliners (q01, q03, q05, q_events_per_window) are
partially masked by the local-mode scheduling floor (measured 0.086-0.18 s,
comparable to their whole runtime). At sf10 (lineitem 60M rows) the floor is
<5% of runtime, so the Spark-vs-DuckDB ratio measures per-row throughput
(scripts/bench_sf1.py --sf10, bench_sf1_llm.py --sf10, bench_ivfpq_sweep.py).

Construction: each fact/dim table is the union of key-shifted replicas
(keys += replica * 10_000_000; all other columns unchanged), so every join
relationship of the original data is preserved exactly and per-key
cardinalities stay identical — output sizes scale linearly, join fan-outs do
not explode. region/nation (fixed-size catalogs) are carried over as-is;
documents tile with VERBATIM text (heavily-duplicated-crawl shape for the
dedup ops) and embeddings tile with a per-replica deterministic
perturbation (near-duplicate vectors, not exact copies — see EMB_PERTURB).

DuckDB writes the parquet (multi-row-group files, so Spark's scan
parallelizes naturally — unlike the single-row-group driver fixtures).

Usage: python scripts/make_sf1.py [out_dir]          (default /tmp/sf1-fixture)
       python scripts/make_sf1.py --sf10 [out_dir]   (default /tmp/sf10-fixture)
Idempotent: skips any table whose tiled row count is already right (the
check does not see row order; delete an output directory to rebuild it).
"""

from __future__ import annotations

import os
import shutil
import sys

SRC = "/root/testdata/sf0.1"
SHIFT = 10_000_000

# table -> key columns to shift per replica
SHIFTED = {
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "customer": ("c_custkey",),
    "part": ("p_partkey",),
    "supplier": ("s_suppkey",),
    "events": ("event_id", "user_id"),
    # documents: doc_id shifts per replica, text kept VERBATIM, so the
    # corpus models a heavily-duplicated crawl (every doc has one copy per
    # replica) — the realistic adversarial shape for dedup: exact-dup
    # groups, dense near-dup candidate clusters, connected components that
    # merge replicas.
    "documents": ("doc_id",),
}
# sf10 carries only the tables its benches read
SF10_TABLES = tuple(t for t in SHIFTED if t != "part")
COPIED = ("region", "nation")
# embeddings tile specially: vec_id shifts AND each replica's vector is
# deterministically perturbed (x + r*0.001 per element) so replicas are
# NEAR-duplicates in cosine space, not exact copies — the realistic shape
# for ANN at scale (exact copies would make top-k degenerate).
EMB_PERTURB = 0.001


def tile(out_dir: str, n_replicas: int, tables: tuple[str, ...]) -> str:
    """Write ``n_replicas`` key-shifted copies of each of ``tables`` (keys of
    SHIFTED), plus the COPIED catalogs and the perturbed embeddings, under
    ``out_dir``. Rows are in (replica, source row) order, so two builds of
    one fixture are identical file for file."""
    import duckdb

    con = duckdb.connect()

    def fresh(t: str) -> bool:
        path = os.path.join(out_dir, f"{t}.parquet")
        if not os.path.exists(path):
            return False
        if t in SHIFTED or t == "embeddings":  # stale pre-tiling copies rebuild
            src_n = con.execute(
                f"SELECT COUNT(*) FROM read_parquet('{os.path.join(SRC, t)}.parquet')"
            ).fetchone()[0]
            out_n = con.execute(f"SELECT COUNT(*) FROM read_parquet('{path}')").fetchone()[0]
            return out_n == src_n * n_replicas
        return True

    if all(fresh(t) for t in (*tables, *COPIED, "embeddings")):
        con.close()
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for t in tables:
        if fresh(t):
            continue
        src = os.path.join(SRC, f"{t}.parquet")
        cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM read_parquet('{src}')").fetchall()]
        proj = ", ".join(
            f"({c} + r.r * {SHIFT}) AS {c}" if c in SHIFTED[t] else c for c in cols
        )
        con.execute(
            f"""
            COPY (
                SELECT {proj}
                FROM read_parquet('{src}', file_row_number = true)
                CROSS JOIN (SELECT UNNEST(range({n_replicas})) AS r) r
                ORDER BY r.r, file_row_number
            ) TO '{out_dir}/{t}.parquet' (FORMAT PARQUET)
            """
        )
    for t in COPIED:
        shutil.copyfile(os.path.join(SRC, f"{t}.parquet"), os.path.join(out_dir, f"{t}.parquet"))
    if not fresh("embeddings"):
        src = os.path.join(SRC, "embeddings.parquet")
        con.execute(
            f"""
            COPY (
                SELECT (vec_id + r.r * {SHIFT}) AS vec_id,
                       list_transform(embedding,
                                      x -> CAST(x + r.r * {EMB_PERTURB} AS FLOAT))
                           AS embedding,
                       label
                FROM read_parquet('{src}', file_row_number = true)
                CROSS JOIN (SELECT UNNEST(range({n_replicas})) AS r) r
                ORDER BY r.r, file_row_number
            ) TO '{out_dir}/embeddings.parquet' (FORMAT PARQUET)
            """
        )
    con.close()
    return out_dir


def make_sf1(out_dir: str = "/tmp/sf1-fixture") -> str:
    return tile(out_dir, 10, tuple(SHIFTED))


def make_sf10(out_dir: str = "/tmp/sf10-fixture") -> str:
    return tile(out_dir, 100, SF10_TABLES)


if __name__ == "__main__":
    args = sys.argv[1:]
    if args[:1] == ["--sf10"]:
        print(make_sf10(*args[1:2]))
    else:
        print(make_sf1(*args[:1]))
