"""Contract tests for the benchmark itself (no Spark is started).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import csv
import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parents[1]
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import workloads  # noqa: E402
from run import metric_unit  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _bench() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def test_ingest_csv_is_deterministic_per_seed(tmp_path):
    a, b, c = (tmp_path / n for n in ("a.csv", "b.csv", "c.csv"))
    assert gen.make_ingest_csv(str(a), 7, 1) == gen.make_ingest_csv(str(b), 7, 1)
    assert a.read_bytes() == b.read_bytes()
    gen.make_ingest_csv(str(c), 8, 1)
    assert a.read_bytes() != c.read_bytes()


def test_tables_are_deterministic_per_seed(tmp_path):
    gen.make_tables(str(tmp_path / "a"), 7)
    gen.make_tables(str(tmp_path / "b"), 7)
    for t in gen.TABLES:
        assert pq.read_table(tmp_path / "a" / f"{t}.parquet").equals(pq.read_table(tmp_path / "b" / f"{t}.parquet"))


def test_tables_have_the_fixture_shape(tmp_path):
    gen.make_tables(str(tmp_path), 5)
    doc = pq.read_table(tmp_path / "documents.parquet").to_pydict()
    words = [t.split() for t in doc["text"]]
    assert len(words) == 5_000
    assert sum(w[-1] == "dup" for w in words) == gen.NEAR_DUPS
    assert all(10 <= len(w) <= 100 for w in words)
    assert len({x for w in words for x in w}) == 31  # the vocabulary plus "dup"
    assert doc["n_chars"] == [len(t) for t in doc["text"]]
    emb = pq.read_table(tmp_path / "embeddings.parquet").to_pydict()
    vecs, labels = np.array(emb["embedding"]), np.array(emb["label"])
    assert vecs.shape == (2_000, 64)
    assert np.allclose(np.linalg.norm(vecs, axis=1), 1, atol=1e-5)
    # no cluster structure: each label's mean vector is about as short as
    # the mean of ~200 random unit vectors (1 / sqrt(200) ~ 0.07)
    assert max(np.linalg.norm(vecs[labels == k].mean(axis=0)) for k in range(10)) < 0.12


def test_ingest_truth_matches_the_file(tmp_path):
    path = tmp_path / "in.csv"
    truth = gen.make_ingest_csv(str(path), 3, 1)
    raw = path.read_bytes()
    assert raw.startswith("\ufeff".encode())
    with open(path, encoding="utf-8-sig", newline="") as f:
        rows = list(csv.reader(f, delimiter=";", quotechar='"'))
    assert rows[0] == gen.CSV_HEADER
    body = rows[1:]
    assert truth["linhas"] == len(body) == gen.BLOCK_ROWS
    assert all(len(r) == 5 for r in body)
    empty_ibc = sum(r[4] == "" for r in body)
    assert truth["nulos"] == {"ano": 0, "codigo_municipio": 0, "municipio": 0, "uf": 0, "ibc": empty_ibc}
    assert 0.25 < empty_ibc / len(body) < 0.35
    assert all(all(r[:4]) for r in body)
    ptbr = re.compile(r"\d{1,3}(\.\d{3})*,\d{2}")
    assert all(ptbr.fullmatch(r[4]) for r in body if r[4])
    assert any("." in r[4] for r in body) and any("," in r[2] for r in body)
    assert any(c in raw.decode("utf-8") for c in "ãçéí")


def test_every_emitted_name_is_valid_and_declared():
    bench = _bench()
    per_layer = {m["name"]: m for m in bench["per_layer"]}
    end_to_end = {m["name"]: m for m in bench["end_to_end"]}
    emitted = workloads.per_layer_names()
    assert len(emitted) == len(set(emitted))
    assert set(emitted) == set(per_layer)
    assert set(end_to_end) == {"setup_s", "pass_cpu_s", "task_cpu_s"}
    for name in [*emitted, *end_to_end, *(w["name"] for w in bench["workloads"])]:
        assert NAME.fullmatch(name), name
    for name, m in {**per_layer, **end_to_end}.items():
        assert m["unit"] == metric_unit(name), name
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)


def test_run_refuses_a_directory_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest_csv", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
