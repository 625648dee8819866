"""End-to-end pipeline replays against local fixtures — no live HTTP
(SURVEY §5: fixture-served users/posts shapes; CSV with pt-BR numerals,
BOM, and an undeclared extra column)."""

from __future__ import annotations

import json
import os
from datetime import date

import pytest

from data_ingestion_bra_spark.pipelines import ingest_api, ingest_csv
from data_ingestion_bra_spark.sources.rest import safe_get
from data_ingestion_bra_spark.validate import ApiError
from tests.conftest import job_ids, sql_conf

CSV_BODY = (
    "﻿Ano;Código Município;Município;UF;IBC;Extra\n"
    '2023;0101;"São Paulo";SP;29,45;x\n'
    "2023;0202;Rio;RJ;1.234,56;y\n"
    "2023;0303;Niterói;RJ;;z\n"
)


def _csv_config(tmp_path, body=CSV_BODY):
    csv_path = tmp_path / "input.csv"
    csv_path.write_text(body, encoding="utf-8")
    cfg = {
        "csv": {"path": str(csv_path), "delimiter": ";", "encoding": "utf-8", "has_header": True},
        "columns_normalization": {
            "Ano": "ano",
            "Código Município": "codigo_municipio",
            "Município": "municipio",
            "UF": "uf",
            "IBC": "ibc",
        },
        "schema": {
            "required_columns": ["ano", "codigo_municipio", "municipio", "uf", "ibc"],
            "integer_fields": ["ano"],
            "string_fields": ["codigo_municipio", "municipio", "uf"],
            "float_fields": ["ibc"],
        },
        "output": {
            "base_dir": str(tmp_path / "bronze"),
            "table": "tb_ind",
            "partition_key": "anomesdia",
            "filename": "ind.txt",
        },
    }
    cfg_path = tmp_path / "cfg.json"
    cfg_path.write_text(json.dumps(cfg), encoding="utf-8")
    return str(cfg_path)


@pytest.mark.parametrize("show_preview", [True, False])
def test_csv_pipeline_end_to_end(spark, tmp_path, show_preview):
    # with the preview on, its show() runs first: the stats must still come
    # from the write, which the manifest's Observation is attached to
    cfg_path = _csv_config(tmp_path)
    with pytest.warns(UserWarning):  # extra column kept with warning
        res = ingest_csv.run(
            spark, cfg_path, run_date=date(2025, 10, 20), show_preview=show_preview
        )
    assert res["partition_dir"].endswith("tb_ind/anomesdia=20251020")
    assert res["rows"] == 3
    m = json.load(open(res["manifest"]))
    assert m["schema_stats"]["linhas"] == 3
    assert m["schema_stats"]["nulos"]["ibc"] == 1  # empty string coerced null
    out = res["df"].orderBy("codigo_municipio").collect()
    # BOM stripped (first header parsed), leading zeros preserved (string),
    # pt-BR floats parsed, quotes stripped
    assert out[0]["codigo_municipio"] == "0101"
    assert out[0]["municipio"] == "São Paulo"
    assert out[0]["ibc"] == 29.45
    assert out[1]["ibc"] == 1234.56
    assert dict(res["df"].dtypes)["ano"] == "bigint"


def test_csv_pipeline_job_count(spark, tmp_path):
    """The manifest stats ride the write's own job: without the preview the
    pipeline launches at most 2 jobs (the one-row header read, the write)."""
    cfg_path = _csv_config(tmp_path)
    with job_ids(spark, "test-ingest-csv-jobs") as jobs, pytest.warns(UserWarning):
        ingest_csv.run(spark, cfg_path, run_date=date(2025, 10, 20), show_preview=False)
    assert len(jobs) <= 2


def test_csv_pipeline_scans_source_once(spark, tmp_path, capsys):
    """With the preview on and the source split 3+ ways, only the write
    reads the whole file: every job is a single task (header row, preview
    head, coalesced write), and the preview prints the file's first data
    rows in file order (the reference's head(10), no sort)."""
    # codes fall through the file, so file order is not sorted order
    codes = [f"{9999 - 37 * i:04d}" for i in range(200)]
    body = "\ufeffAno;Código Município;Município;UF;IBC;Extra\n" + "".join(
        f'2023;{c};"Cidade {i}";SP;{i},5;x\n' for i, c in enumerate(codes)
    )
    cfg_path = _csv_config(tmp_path, body)
    csv_path = json.load(open(cfg_path))["csv"]["path"]
    split = {
        "spark.sql.files.maxPartitionBytes": "1024",
        "spark.sql.files.openCostInBytes": "1024",
    }
    with sql_conf(spark, split):
        assert spark.read.text(csv_path).rdd.getNumPartitions() >= 3
        capsys.readouterr()
        with job_ids(spark, "test-ingest-csv-one-scan") as jobs, pytest.warns(UserWarning):
            res = ingest_csv.run(spark, cfg_path, run_date=date(2025, 10, 20))
    assert res["rows"] == len(codes)

    tracker = spark.sparkContext.statusTracker()
    assert len(jobs) <= 3
    for job in jobs:
        stages = [tracker.getStageInfo(s) for s in tracker.getJobInfo(job).stageIds]
        assert sum(st.numTasks for st in stages) == 1, (job, stages)

    table = [ln for ln in capsys.readouterr().out.splitlines() if ln.startswith("|")]
    assert [c.strip() for c in table[0].strip("|").split("|")] == [
        "ano",
        "codigo_municipio",
        "municipio",
    ]
    shown = [[c.strip() for c in ln.strip("|").split("|")] for ln in table[1:]]
    assert shown == [["2023", c, f"Cidade {i}"] for i, c in enumerate(codes[:10])]


def test_csv_pipeline_matches_generated_truth(spark, tmp_path):
    """One reference-sized block (22,280 rows) of the benchmark's seeded
    IBC-shaped CSV through the shipped config, re-pointed at the file as the
    benchmark does: the manifest reports the generator's row and null counts,
    and the frame carries the config's casts."""
    from perfbench import gen

    csv_path = tmp_path / "indicadores.csv"
    truth = gen.make_ingest_csv(str(csv_path), seed=1, blocks=1)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "configs", "indicadores_municipios.json"), encoding="utf-8") as f:
        cfg = json.load(f)
    cfg["csv"]["path"] = str(csv_path)
    cfg["output"]["base_dir"] = str(tmp_path / "bronze")
    cfg_path = tmp_path / "config.json"
    cfg_path.write_text(json.dumps(cfg, ensure_ascii=False), encoding="utf-8")

    res = ingest_csv.run(spark, str(cfg_path), run_date=date(2025, 10, 20))
    stats = json.load(open(res["manifest"]))["schema_stats"]
    assert truth["linhas"] == 22_280
    assert stats["linhas"] == truth["linhas"]
    assert stats["nulos"] == truth["nulos"]
    casts = {"integer_fields": "bigint", "string_fields": "string", "float_fields": "double"}
    want = {c: t for key, t in casts.items() for c in cfg["schema"][key]}
    assert dict(res["df"].dtypes) == want


class _FakeResponse:
    def __init__(self, payload, status=200, headers=None):
        self._payload = payload
        self.status_code = status
        self.headers = headers or {}

    def json(self):
        if isinstance(self._payload, Exception):
            raise self._payload
        return self._payload

    def raise_for_status(self):
        if self.status_code >= 400:
            raise RuntimeError(f"HTTP {self.status_code}")


class _FakeSession:
    """Scripted HTTP session: maps (url-suffix, frozenset(params)) → response list."""

    def __init__(self):
        self.routes = {}
        self.calls = []

    def add(self, suffix, responses, params=None):
        self.routes[(suffix, tuple(sorted((params or {}).items())))] = list(responses)

    def get(self, url, params=None, timeout=None):
        self.calls.append((url, params))
        for (suffix, p), resps in self.routes.items():
            if url.endswith(suffix) and tuple(sorted((params or {}).items())) == p:
                return resps.pop(0) if len(resps) > 1 else resps[0]
        raise AssertionError(f"unexpected request: {url} {params}")


USERS = [
    {"id": 7, "name": "Kurtis Weissnat", "username": "kurtis", "email": "k@x.io"},
    {"id": 8, "name": '  "Quoted Name"  ', "username": "q", "email": "q@x.io"},
]
POSTS = [
    {"userId": 7, "id": 1, "title": "t1", "body": "line1\nline2"},
    {"userId": 7, "id": 2, "title": "t2", "body": "b2"},
]


def _api_config(tmp_path, target="Kurtis Weissnat"):
    cfg = {
        "api": {
            "base_url": "https://fake.test",
            "endpoints": {"users": "/users", "posts": "/posts"},
            "timeout_seconds": 20,
            "retries": 2,
        },
        "schema": {
            "users": {
                "required_columns": ["user_id", "nome", "usuario", "email"],
                "integer_fields": ["user_id"],
                "string_fields": ["nome", "usuario", "email"],
                "float_fields": [],
            },
            "posts": {
                "required_columns": ["post_id", "user_id", "titulo", "conteudo"],
                "integer_fields": ["post_id", "user_id"],
                "string_fields": ["titulo", "conteudo"],
                "float_fields": [],
            },
        },
        "output": {
            "base_dir": str(tmp_path / "bronze"),
            "users_table": "tb_users",
            "posts_table": "tb_posts",
            "partition_key": "anomesdia",
            "users_filename": "users.txt",
            "posts_filename": "posts.txt",
            "csv_delimiter": ";",
            "encoding": "utf-8",
        },
        "logic": {"user_target": target},
    }
    p = tmp_path / "api_cfg.json"
    p.write_text(json.dumps(cfg), encoding="utf-8")
    return str(p)


def test_api_pipeline_end_to_end(spark, tmp_path):
    sess = _FakeSession()
    sess.add("/users", [_FakeResponse(USERS)])
    sess.add("/posts", [_FakeResponse(POSTS)], params={"userId": 7})
    res = ingest_api.run(
        spark,
        _api_config(tmp_path),
        run_date=date(2025, 10, 20),
        show_preview=False,
        http_session=sess,
    )
    assert res["user_id"] == 7  # filter → scalar extract → pushed-down fetch
    users_m = json.load(open(res["users"]["manifest"]))
    posts_m = json.load(open(res["posts"]["manifest"]))
    assert users_m["schema_stats"]["linhas"] == 2
    assert posts_m["schema_stats"]["linhas"] == 2
    assert users_m["dataset"]["endpoint"] == "/users"
    # quote-strip + trim applied by the cast layer
    back = spark.read.options(sep=";", header=True, multiLine=True).csv(
        res["users"]["partition_dir"]
    )
    assert {r["nome"] for r in back.collect()} == {"Kurtis Weissnat", "Quoted Name"}
    # multiline body round-trips through quoted CSV
    posts_back = spark.read.options(sep=";", header=True, multiLine=True).csv(
        res["posts"]["partition_dir"]
    )
    assert {r["conteudo"] for r in posts_back.collect()} == {"line1\nline2", "b2"}


def test_api_pipeline_target_missing(spark, tmp_path):
    sess = _FakeSession()
    sess.add("/users", [_FakeResponse(USERS)])
    with pytest.raises(ingest_api.TargetUserNotFound):
        ingest_api.run(
            spark,
            _api_config(tmp_path, target="Nobody"),
            show_preview=False,
            http_session=sess,
        )


def test_safe_get_retries_and_retry_after():
    sess = _FakeSession()
    sess.add(
        "/flaky",
        [
            _FakeResponse(None, status=503, headers={"Retry-After": "0.01"}),
            _FakeResponse([1], status=200),
        ],
    )
    sleeps = []
    resp = safe_get("https://fake.test/flaky", retries=2, session=sess, sleep=sleeps.append)
    assert resp.json() == [1]
    assert sleeps == [0.01]  # Retry-After honored


def test_safe_get_exhaustion_raises_apierror():
    sess = _FakeSession()
    sess.add("/down", [_FakeResponse(None, status=500)])
    with pytest.raises(ApiError):
        safe_get("https://fake.test/down", retries=1, session=sess, sleep=lambda _: None)
