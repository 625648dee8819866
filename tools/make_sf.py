"""Scale-replica generator: build a larger synthetic scale factor from the
driver's sf0.1 parquet by key-offset replication (default 10x -> "sf1").

/root/testdata is read-only, so replicas land inside the repo
(default ``/root/repo/.data/sf1``, gitignored).  The replication preserves
referential integrity and distribution shape, which is what the bench needs:

- dimension tables (``region``, ``nation``) are NOT replicated — foreign keys
  in replicated fact rows still resolve, and dim/fact size ratio grows the
  way a real scale-up does (broadcast joins stay broadcastable);
- keyed tables get ``key + i * ceil_key`` offsets per replica ``i`` so keys
  stay unique and joins (orders->customer, lineitem->orders/part/supplier)
  keep exactly one match per key — join fan-outs scale linearly, not
  quadratically;
- ``documents.text`` gets a per-replica suffix so near-dup structure is
  preserved (each replica is a near-duplicate family, not an exact-dup
  explosion that would inflate LSH candidate pairs 45x). Beyond 10 copies,
  replicas are split into GROUPS of 10: members of a group stay mutual
  near-dups (suffix-only edits), while every token is salted with the group
  id across groups — so near-dup family size stays ~10 however large the
  replica, and candidate-pair volume scales LINEARLY with corpus size the
  way a real corpus's duplicate rate does (a 100x replica where all 100
  copies are mutual near-dups would measure a quadratic data artifact, not
  the operator);
- ``events.user_id`` is offset per replica so session/window state grows in
  key-count (more parallel state) rather than per-key depth.

Usage:  python tools/make_sf.py [copies] [src_dir] [out_dir]
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb

# per-table key columns that must stay unique across replicas; offsets use a
# power-of-ten ceiling of the source max so replicated keys are readable.
OFFSET_KEYS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
PLAIN = ["region", "nation"]


def _ceil_pow10(n: int) -> int:
    p = 1
    while p <= n:
        p *= 10
    return p


def make_sf(copies: int, src: str, out: str) -> None:
    out_p = Path(out)
    out_p.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    # Stream each COPY: keeping the input row order made DuckDB buffer the
    # whole 100x lineitem (~10 GB resident in the bench process that builds
    # the replica, next to its Spark JVM). Row order within a table is not
    # part of the replica's contract; the rows are.
    con.execute("SET preserve_insertion_order = false")
    con.execute("SET memory_limit = '4GB'")
    for t in PLAIN:
        con.execute(
            f"COPY (SELECT * FROM '{src}/{t}.parquet') TO '{out}/{t}.parquet' (FORMAT PARQUET)"
        )
        print(f"{t}: copied (dimension, unreplicated)")
    for t, keys in OFFSET_KEYS.items():
        ceils = {
            k: _ceil_pow10(con.execute(f"SELECT max({k}) FROM '{src}/{t}.parquet'").fetchone()[0])
            for k in keys
        }
        cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM '{src}/{t}.parquet'").fetchall()]
        exprs = []
        for c in cols:
            if c in ceils:
                exprs.append(f"{c} + i * {ceils[c]} AS {c}")
            elif t == "documents" and c == "text":
                # suffix keeps replicas near-dups, not exact dups; groups of
                # 10 bound the family size (token-salt across groups)
                exprs.append(
                    "CASE WHEN i = 0 THEN text "
                    "WHEN i < 10 THEN text || ' r' || i "
                    "ELSE regexp_replace(text, '(\\S+)', "
                    "concat('g', CAST(i // 10 AS VARCHAR), '_\\1'), 'g')"
                    " || ' r' || (i % 10) END AS text"
                )
            else:
                exprs.append(c)
        con.execute(
            f"COPY (SELECT {', '.join(exprs)} FROM '{src}/{t}.parquet', "
            f"(SELECT unnest(range({copies})) AS i)) "
            f"TO '{out}/{t}.parquet' (FORMAT PARQUET)"
        )
        n = con.execute(f"SELECT count(*) FROM '{out}/{t}.parquet'").fetchone()[0]
        print(f"{t}: {n} rows ({copies}x)")


if __name__ == "__main__":
    copies = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    src = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    out = sys.argv[3] if len(sys.argv) > 3 else str(Path(__file__).resolve().parents[1] / ".data" / "sf1")
    make_sf(copies, src, out)
