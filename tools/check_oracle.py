"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf dir, then compares row count, column names, and an
order-insensitive value hash. Usage:

    python tools/check_oracle.py [sf_dir] [query ...]

Comparison is deliberately STRICTER than any plausible driver:

- both sides are fetched through the pandas path (``DataFrame.toPandas`` /
  ``duckdb.…​.df()``), the same coercions a pandas/NumPy-based driver applies
  — in particular DuckDB HUGEINT (the result type of ``SUM(BIGINT)``)
  surfaces as float64 here instead of being silently re-intified, which is
  exactly the class of mismatch that made round-2's driver red while the old
  fetchall-based checker stayed green;
- cell normalization is TYPE-STRICT: ``123`` (int), ``123.0`` (float) and
  ``Decimal('123')`` hash differently. Local green therefore predicts driver
  green under any normalization the driver might use, as long as the two
  engines produce bit-identical same-typed values — which the catalog's
  integer-fixed-point conventions guarantee.
"""

from __future__ import annotations

import hashlib
import math
import sys
import time
from decimal import Decimal
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb
import numpy as np
import pandas as pd

from data_ingestion_bra_spark.session import get_spark
from data_ingestion_bra_spark.sources.tables import TABLE_NAMES


def norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return "b:" + str(int(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "NULL"
        return "f:" + repr(round(f, 9))
    if isinstance(v, Decimal):
        return "dec:" + str(v)
    if isinstance(v, (int, np.integer)):
        return "i:" + str(int(v))
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if v != v:  # pandas NaT
        return "NULL"
    return str(v)


def table_hash(rows: list[tuple], cols: list[str]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def _pdf_rows(pdf: pd.DataFrame) -> list[tuple]:
    # object columns keep None; numeric columns surface NULL as NaN — both
    # normalize to "NULL" in norm_cell, symmetrically for the two engines.
    return list(pdf.itertuples(index=False, name=None))


def open_oracle(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per fixture table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def check_query(spark, con, fn, oracle: str | None, sf_dir: str) -> dict:
    """Run one catalog entry on Spark and its oracle twin on DuckDB; return
    its report record. ``ok`` is True only when row count, column names and
    the order-insensitive value hash all match (or, with no oracle, when the
    Spark side runs); ``err`` names the first problem otherwise. Once the
    Spark side has run, ``hash`` is its ``table_hash``, so two reports
    show whether an entry's values changed."""
    t0 = time.time()
    try:
        sdf = fn(spark, sf_dir)
        scols = sdf.columns
        srows = _pdf_rows(sdf.toPandas())
    except Exception as ex:
        return {"ok": False, "err": f"spark: {str(ex)[:300]}"}
    shash = table_hash(srows, scols)
    if oracle is None:
        return {"ok": True, "rows": len(srows), "mode": "rows-only", "hash": shash}
    try:
        dpdf = con.sql(oracle).df()
        dcols = list(dpdf.columns)
        drows = _pdf_rows(dpdf)
    except Exception as ex:
        return {"ok": False, "err": f"duckdb: {str(ex)[:300]}", "hash": shash}
    problems = []
    if len(srows) != len(drows):
        problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
    if sorted(scols) != sorted(dcols):
        problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
    if not problems and shash != table_hash(drows, dcols):
        problems.append("value-hash mismatch")
        sn = sorted("\x1f".join(norm_cell(c) for c in r) for r in srows)
        dn = sorted("\x1f".join(norm_cell(c) for c in r) for r in drows)
        for a, b in zip(sn, dn):
            if a != b:
                problems.append(f"  first diff: spark={a!r} duck={b!r}")
                break
    if problems:
        return {"ok": False, "rows": len(srows), "err": "; ".join(problems), "hash": shash}
    return {
        "ok": True,
        "rows": len(srows),
        "mode": "rows+schema+hash",
        "sec": round(time.time() - t0, 2),
        "hash": shash,
    }


def main() -> int:
    # --json PATH writes the full per-query report (the committable artifact
    # that keeps below-gate-window queries provably green round over round)
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        args = args[:i] + args[i + 2 :]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    report: dict[str, dict] = {}

    import __spark_entry__ as e

    qs = e.queries()
    oracles = e.oracle_sql()

    spark = get_spark("oracle-check")
    con = open_oracle(sf_dir)

    n_failed, n_run = 0, 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        n_run += 1
        rec = check_query(spark, con, fn, oracles.get(name), sf_dir)
        report[name] = rec
        if not rec["ok"]:
            n_failed += 1
            print(f"FAIL  {name}: {rec['err']}")
        elif rec["mode"] == "rows-only":
            print(f"ok*   {name}: rows-only ({rec['rows']} rows) [no oracle]")
        else:
            print(f"ok    {name}: {rec['rows']} rows match ({rec['sec']:.1f}s)")

    print(f"\n{n_run - n_failed}/{n_run} green")
    if json_out:
        import json

        # what the session still holds after the run: cached and
        # checkpointed RDD blocks, memory plus disk
        held = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        payload = {
            "sf_dir": sf_dir,
            "n_queries": n_run,
            "n_green": n_run - n_failed,
            "checker": "tools/check_oracle.py (type-strict pandas fetch path)",
            "retained_storage_mb": round(sum(i.memSize() + i.diskSize() for i in held) / 2**20, 3),
            "rdds_held": len(held),
            "queries": report,
        }
        Path(json_out).write_text(json.dumps(payload, indent=1) + "\n")
        print(f"report written: {json_out}")
    return 1 if n_failed else 0


if __name__ == "__main__":
    sys.exit(main())
