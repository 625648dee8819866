"""CDC end-to-end: merge_upsert → dynamic-partition-overwrite snapshot →
manifest per batch → SCD2 over the accumulated change log; two replayed
batches, byte-stable partitions, DuckDB-verified history."""

from __future__ import annotations

import glob
import hashlib
import json
import os

import duckdb

from data_ingestion_bra_spark.pipelines import cdc

B1 = [
    (1, "alice", "BR", 1),
    (2, "bob", "US", 2),
    (3, "carol", "BR", 3),
]
B2 = [
    (2, "bob", "PT", 4),     # update: country change for key 2
    (4, "dave", "US", 5),    # insert (older duplicate below must lose)
    (4, "david", "US", 6),   # duplicate key in-batch: last-wins by _seq
]
SCHEMA = "id bigint, name string, country string, _seq bigint"


def _run(spark, base_dir: str) -> None:
    for pv, rows in (("20240101", B1), ("20240102", B2)):
        cdc.run_cdc_batch(
            spark,
            base_dir,
            "tb_users",
            spark.createDataFrame(rows, SCHEMA),
            keys=["id"],
            partition_value=pv,
            single_file=True,
        )


def _data_files(part_dir: str) -> list[str]:
    return sorted(
        p
        for p in glob.glob(os.path.join(part_dir, "*"))
        if os.path.basename(p)[0] not in "._" and os.path.isfile(p)
    )


def _file_md5s(part_dir: str) -> list[str]:
    return [hashlib.md5(open(p, "rb").read()).hexdigest() for p in _data_files(part_dir)]


def test_cdc_two_batches_end_to_end(spark, tmp_path):
    base = str(tmp_path / "lake")
    snap1_dir = os.path.join(base, "tb_users", "anomesdia=20240101")

    # batch 1
    cdc.run_cdc_batch(
        spark, base, "tb_users", spark.createDataFrame(B1, SCHEMA),
        keys=["id"], partition_value="20240101", single_file=True,
    )
    snap1_bytes = _file_md5s(snap1_dir)
    assert len(snap1_bytes) == 1  # single-file compat mode

    # batch 2 → NEW partition; batch-1 partition must stay byte-identical
    # (dynamic overwrite replaces only the written partition value)
    res2 = cdc.run_cdc_batch(
        spark, base, "tb_users", spark.createDataFrame(B2, SCHEMA),
        keys=["id"], partition_value="20240102", single_file=True,
    )
    assert _file_md5s(snap1_dir) == snap1_bytes
    # the snapshot count is the write's observed row count
    assert res2["n_snapshot"] == spark.read.parquet(res2["partition_dir"]).count() == 4

    # snapshot correctness: key 2 updated, key 4 inserted last-wins
    snap2 = {
        r["id"]: (r["name"], r["country"], r["_seq"])
        for r in spark.read.parquet(
            os.path.join(base, "tb_users", "anomesdia=20240102")
        ).collect()
    }
    assert snap2 == {
        1: ("alice", "BR", 1),
        2: ("bob", "PT", 4),
        3: ("carol", "BR", 3),
        4: ("david", "US", 6),
    }

    # manifest per batch, beside each snapshot partition
    for pv in ("20240101", "20240102"):
        m = json.load(
            open(os.path.join(base, "tb_users", f"anomesdia={pv}", "_manifest.json"))
        )
        assert m["dataset"]["origem"] == "cdc"
        assert m["schema_stats"]["linhas"] == (3 if pv == "20240101" else 4)

    # replaying the SAME batches into a fresh lake reproduces every
    # partition byte-for-byte (sorted single-file writes are deterministic)
    base2 = str(tmp_path / "lake_replay")
    _run(spark, base2)
    for pv in ("20240101", "20240102"):
        a = _file_md5s(os.path.join(base, "tb_users", f"anomesdia={pv}"))
        b = _file_md5s(os.path.join(base2, "tb_users", f"anomesdia={pv}"))
        assert a == b, pv

    # SCD2 over the accumulated change log, verified against a DuckDB
    # replay (IS DISTINCT FROM change detection, same as the gated
    # scd2_event_type_history oracle)
    hist = {
        (r["entity"], r["version"]): (r["attr"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in cdc.change_history(
            spark, base, "tb_users", entity_col="id", attr_col="country"
        ).collect()
    }
    con = duckdb.connect()
    log_glob = os.path.join(base, "tb_users__changelog", "*.parquet")
    oracle = con.execute(f"""
        WITH ordered AS (
          SELECT id, country, _seq,
                 CASE WHEN lag(country) OVER w IS NOT DISTINCT FROM country
                      AND row_number() OVER w > 1 THEN 0 ELSE 1 END AS chg
          FROM read_parquet('{log_glob}')
          WINDOW w AS (PARTITION BY id ORDER BY _seq, id)
        ),
        versioned AS (
          SELECT id, country, _seq,
                 SUM(chg) OVER (PARTITION BY id ORDER BY _seq, id) AS version
          FROM ordered
        ),
        runs AS (
          SELECT id, version, MIN(country) AS attr, MIN(_seq) AS valid_from,
                 COUNT(*) AS n_events
          FROM versioned GROUP BY id, version
        )
        SELECT id, version, attr, valid_from,
               lead(valid_from) OVER (PARTITION BY id ORDER BY version) AS valid_to,
               CASE WHEN lead(valid_from) OVER (PARTITION BY id ORDER BY version)
                    IS NULL THEN 1 ELSE 0 END AS is_current
        FROM runs
    """).fetchall()
    oracle_hist = {(r[0], r[1]): (r[2], r[3], r[4], r[5]) for r in oracle}
    assert hist == oracle_hist
    # the one attribute change in the log: key 2, BR -> PT... country US->PT
    assert hist[(2, 1)][0] == "US" and hist[(2, 2)][0] == "PT"
    assert hist[(2, 2)][3] == 1  # current


def test_cdc_acid_twin_time_travel_and_parity(spark, tmp_path):
    """The txlog-backed CDC twin: version lineage == batch history, final
    snapshot matches the directory pipeline's, SCD2 parity from the ACID
    change log, and a competing snapshot replacement raises instead of
    silently losing a batch."""
    import pytest

    from data_ingestion_bra_spark.sinks import txlog

    base = str(tmp_path / "lake")
    r1 = cdc.run_cdc_batch_acid(
        spark, base, "tb_users", spark.createDataFrame(B1, SCHEMA),
        keys=["id"], batch_id="b1",
    )
    r2 = cdc.run_cdc_batch_acid(
        spark, base, "tb_users", spark.createDataFrame(B2, SCHEMA),
        keys=["id"], batch_id="b2",
    )
    snap = r1["snapshot_dir"]
    # batch-1 commit is version 0; batch-2's replacement is version 1
    assert (r1["version"], r2["version"]) == (0, 1)

    def rows(version=None):
        return {
            (r["id"], r["name"], r["country"])
            for r in txlog.read_snapshot(spark, snap, version).collect()
        }

    # time travel: version 0 IS the batch-1 snapshot
    assert rows(version=0) == {(1, "alice", "BR"), (2, "bob", "US"), (3, "carol", "BR")}
    # latest: update applied, in-batch duplicate resolved last-wins
    latest = rows()
    assert latest == {
        (1, "alice", "BR"),
        (2, "bob", "PT"),
        (3, "carol", "BR"),
        (4, "david", "US"),
    }
    # parity with the directory pipeline's final snapshot
    _run(spark, base)
    dir_rows = {
        (r["id"], r["name"], r["country"])
        for r in cdc.read_snapshot(spark, base, "tb_users").collect()
    }
    assert latest == dir_rows

    # SCD2 from the ACID change log: key 2's country run US closes when PT
    # opens at seq 4
    hist = {
        (r["entity"], r["attr"], r["valid_from"], r["valid_to"])
        for r in cdc.change_history_acid(
            spark, base, "tb_users", entity_col="id", attr_col="country"
        ).collect()
        if r["entity"] == 2
    }
    assert hist == {(2, "US", 2, 4), (2, "PT", 4, None)}

    # a competing wholesale snapshot replacement must CONFLICT, not lose
    import json as _json
    import os as _os

    real_publish = txlog._try_publish

    def racing_publish(table_dir, version, record):
        if not _os.path.exists(txlog._log_path(table_dir, version)):
            _os.makedirs(_os.path.join(table_dir, txlog.LOG_DIR), exist_ok=True)
            with open(txlog._log_path(table_dir, version), "w") as f:
                _json.dump(
                    {"add": [], "remove": [],
                     "meta": {"op": "overwrite_partition",
                              "partition": "snapshot=current"}},
                    f,
                )
        return real_publish(table_dir, version, record)

    txlog._try_publish = racing_publish
    try:
        with pytest.raises(txlog.CommitConflict):
            cdc.run_cdc_batch_acid(
                spark, base, "tb_users",
                spark.createDataFrame([(9, "eve", "FR", 9)], SCHEMA),
                keys=["id"], batch_id="b3",
            )
    finally:
        txlog._try_publish = real_publish
    # the losing writer changed nothing visible
    assert rows(version=1) == latest
