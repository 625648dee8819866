from __future__ import annotations

import sys
import tempfile
from contextlib import contextmanager
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from data_ingestion_bra_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    warehouse = tempfile.mkdtemp(prefix="spark-warehouse-")
    s = get_spark(
        "tests",
        cpus="8",
        shuffle_partitions="8",
        extra_conf={"spark.sql.warehouse.dir": warehouse},
    )
    yield s


@contextmanager
def sql_conf(spark, conf):
    """Set session SQL confs for the block, then restore them."""
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            # conf.get(key, None) is None for never-set keys — unset to restore
            # the session default, otherwise the override leaks into later tests
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@contextmanager
def job_ids(spark, group):
    """Run the block's actions in job group ``group``; once the block exits,
    the yielded list holds the ids of the jobs it launched."""
    sc = spark.sparkContext
    ids = []
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        # the status tracker learns of jobs through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


SF_SMOKE = "/root/testdata/sf0.001"


def synthetic_merges(depth: int, base: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """Deterministically extend the committed 96-merge table to ``depth``
    entries for the chain-depth stress tests. Chains of ≤48 growing symbols
    seeded from rare letter pairs: every entry is a structurally valid merge
    (left symbol produced by a prior entry), patterns stay short, and the
    per-merge literal-replace SCAN cost — the quantity under measurement —
    is paid whether or not the pattern occurs in prose."""
    ms = list(base)
    seen = set(ms)
    alpha = "abcdefghijklmnopqrstuvwxyz"
    # seeds walk ALL 676 letter pairs (a 26-cycle walk here once looped
    # forever past depth ~1274 — every later seed was already seen);
    # 676 seeds x 49 entries bounds the generator at ~33k merges.
    if depth > 33_000:
        raise ValueError(f"synthetic merge generator bounded at ~33k, got {depth}")
    for si in range(676):
        if len(ms) >= depth:
            break
        seed = (alpha[si % 26], alpha[(si // 26 + si) % 26])
        if seed in seen:
            continue
        seen.add(seed)
        ms.append(seed)
        sym = seed[0] + seed[1]
        for j in range(48):
            if len(ms) >= depth:
                break
            nxt = alpha[(si + j) % 26]
            ms.append((sym, nxt))
            sym += nxt
    return ms[:depth]
