"""Seeded input generators for the benchmark.

Everything here is a pure function of ``seed`` (and a size), so the same
seed always yields byte-identical inputs:

- ``make_ingest_csv`` writes a CSV shaped like the reference's IBC
  indicators input (UTF-8 BOM, ``;`` separator, accented header names,
  pt-BR decimals such as ``1.234,56``, quoted names containing ``,`` and
  about 30% empty ``IBC``) and returns the ground truth the pipeline's
  manifest must reproduce: the row count and the per-column null counts
  after the declared casts.
- ``make_tables`` writes the two tables the LLM-tier queries read,
  ``documents`` and ``embeddings``, fitted to the sf0.1 fixtures (the
  README compares the two): 5k documents of 10-99 words drawn uniformly
  from a 30-word vocabulary, 250 of them overwritten in turn by a copy of
  another document plus the token ``dup`` (the exact duplicates are the
  copies of a shared source), and 2k unit-norm 64-d Gaussian embeddings
  with labels 0-9 drawn independently of the vectors. One parquet file and
  one row group per table, like the fixtures.

Only numpy and pyarrow are used; nothing here starts Spark.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: header as the reference's input spells it (accents included); the
#: pipeline config's ``columns_normalization`` maps these to snake_case
CSV_HEADER = ["Ano", "Código Município", "Município", "UF", "IBC"]
#: the normalized names the manifest reports, in header order
CSV_COLUMNS = ["ano", "codigo_municipio", "municipio", "uf", "ibc"]
#: one reference-sized block: 5,570 municipalities x 4 years
MUNICIPALITIES = 5_570
YEARS = (2021, 2022, 2023, 2024)
BLOCK_ROWS = MUNICIPALITIES * len(YEARS)
EMPTY_IBC_SHARE = 0.3

_UFS = (
    "AC AL AP AM BA CE DF ES GO MA MT MS MG PA PB PR PE PI RJ RN RS RO RR SC SP SE TO"
).split()
_NAME_HEADS = (
    "São", "Santa", "Nova", "Campo", "Porto", "Vila", "Bom", "Ribeirão",
    "Águas", "Itá", "Conceição", "Cruz",
)
_NAME_TAILS = (
    "José", "Maria", "Alegre", "Grande", "Belo", "Jardim", "Paraná",
    "Araçá", "Açu", "Lourenço", "Inês", "Pará",
)
_NAME_SUFFIXES = (", Norte", ", do Sul", ", Oeste", ", da Serra")


def _ptbr(value: float) -> str:
    """``1234.5`` -> ``1.234,50``: dot thousands, comma decimals."""
    return f"{value:,.2f}".replace(",", "_").replace(".", ",").replace("_", ".")


def make_ingest_csv(path: str, seed: int, blocks: int) -> dict:
    """Write ``blocks`` x 22,280 rows of IBC-shaped CSV to ``path``.

    Returns ``{"linhas": rows, "nulos": {column: nulls}}`` keyed by the
    normalized column names: the only NULLs after casting are the empty
    ``IBC`` cells (every other cell is a well-formed non-empty value)."""
    rng = np.random.default_rng([seed, 1])
    codes = rng.choice(np.arange(1_100_000, 5_300_000), MUNICIPALITIES, replace=False)
    heads = rng.integers(0, len(_NAME_HEADS), MUNICIPALITIES)
    tails = rng.integers(0, len(_NAME_TAILS), MUNICIPALITIES)
    # ~1 in 4 names carries a ", suffix", so the field must be quoted
    suffix = rng.integers(0, 4 * len(_NAME_SUFFIXES), MUNICIPALITIES)
    ufs = rng.integers(0, len(_UFS), MUNICIPALITIES)
    munis = []
    for i in range(MUNICIPALITIES):
        name = f"{_NAME_HEADS[heads[i]]} {_NAME_TAILS[tails[i]]}"
        if suffix[i] < len(_NAME_SUFFIXES):
            name = f'"{name}{_NAME_SUFFIXES[suffix[i]]}"'
        munis.append(f"{codes[i]};{name};{_UFS[ufs[i]]}")

    n = blocks * BLOCK_ROWS
    empty = rng.random(n) < EMPTY_IBC_SHARE
    # cents up to 50,000.00, so both "12,34" and "1.234,56" shapes occur
    cents = rng.integers(0, 5_000_000, n)
    years = np.tile(np.repeat(np.array(YEARS), MUNICIPALITIES), blocks)
    lines = ["\ufeff" + ";".join(CSV_HEADER)]
    for r in range(n):
        ibc = "" if empty[r] else _ptbr(cents[r] / 100)
        lines.append(f"{years[r]};{munis[r % MUNICIPALITIES]};{ibc}")
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write("\n".join(lines))
        f.write("\n")
    nulls = dict.fromkeys(CSV_COLUMNS, 0)
    nulls["ibc"] = int(empty.sum())
    return {"linhas": n, "nulos": nulls}


_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

#: the tables ``make_tables`` writes
TABLES = ("documents", "embeddings")
#: documents overwritten by a near-duplicate copy, as in the fixture
NEAR_DUPS = 250


def _write(out_dir: str, name: str, cols: dict) -> None:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=len(table) or 1)


def _documents(rng: np.random.Generator, n: int = 5_000) -> dict:
    lengths = rng.integers(10, 100, n)
    words = rng.integers(0, len(_VOCAB), int(lengths.sum()))
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(_VOCAB[w] for w in words[pos : pos + ln]))
        pos += ln
    # near duplicates: each of NEAR_DUPS documents, in turn, becomes a copy
    # of any other document plus a trailing token, so a source may itself
    # be a near duplicate and two copies of one source are exact duplicates
    for i in rng.choice(n, NEAR_DUPS, replace=False):
        src = int(rng.integers(0, n - 1))
        texts[i] = texts[src + (src >= i)] + " dup"
    langs = np.array(["en", "es", "fr", "de", "zh"])[
        rng.choice(5, n, p=[0.41, 0.15, 0.15, 0.14, 0.15])
    ]
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs.tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng: np.random.Generator, n: int = 2_000, dim: int = 64) -> dict:
    # as in the fixture, the vectors have no cluster structure: the mean of
    # each label's vectors is as short as that of random unit vectors
    vecs = rng.normal(size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    }


def make_tables(out_dir: str, seed: int) -> None:
    """Write ``TABLES`` as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    _write(out_dir, "documents", _documents(rng))
    _write(out_dir, "embeddings", _embeddings(rng))
