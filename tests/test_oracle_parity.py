"""Spark vs DuckDB oracle parity, in tier-1, for the near-dup and vector
entries whose plans share the single MinHash-LSH path and the SQL-string
vector expressions, for the ingest cast layer and for the text folds: row
count, column names and the order-insensitive value hash, through the same
check ``tools/check_oracle.py`` runs over the whole catalog."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry
from tests.conftest import SF_SMOKE as SF
from tools.check_oracle import check_query, open_oracle

ENTRIES = [
    # MinHash-LSH (dedup.lsh_pair_estimates / incremental_lsh_candidates)
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_incremental_batch",
    "dedup_lsh_calibration",
    "dedup_duplicate_clusters",
    "dedup_canonical_selection",
    "corpus_split_leakage_safe",
    "corpus_dataset_card",
    # SimHash
    "dedup_simhash",
    # vector expressions (similarity.*_sql)
    "dedup_embedding_cosine",
    "similarity_rplsh_bucketed",
    "dedup_semantic_semdedup",
    "similarity_bitext_mining",
    "similarity_topk_ivf",
    "similarity_topk_ivfpq",
    # cast layer (functions.cleaning: to_float_pt / to_str / to_int)
    "scalar_cast_suite",
    # code-point folds over the normalized text (text.rolling_hash_expr,
    # the winnowing gram codes)
    "text_fingerprints",
    "text_winnowing_overlap",
]


@pytest.fixture(scope="module")
def oracle():
    con = open_oracle(SF)
    yield entry.queries(), entry.oracle_sql(), con
    con.close()


@pytest.mark.parametrize("name", ENTRIES)
def test_entry_matches_duckdb_oracle(spark, oracle, name):
    queries, oracles, con = oracle
    assert name in oracles, f"{name} has no oracle twin"
    rec = check_query(spark, con, queries[name], oracles[name], SF)
    assert rec["ok"], rec["err"]
    assert rec["mode"] == "rows+schema+hash"
