"""Crawl-path registry entries against their DuckDB oracles at sf0.001:
delta-checkpoint reconstruction, the content_dedup mirror keeper and
JSON-lines input through the JSON envelope. Same comparison as
tools/check_oracle.py (row count, columns, order-insensitive value hash)."""

from __future__ import annotations

import importlib.util
import os

import duckdb
import pytest

import __spark_entry__ as entry

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location(
    "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py")
)
check_oracle = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_oracle)


@pytest.mark.parametrize(
    "name", ["frontier_delta_reconstruct", "crawl_content_dedup", "s5_json_envelope"]
)
def test_crawl_entry_matches_oracle(spark, sf_dir, name):
    con = duckdb.connect()
    for t in check_oracle.TABLES:
        con.sql(f"create or replace view {t} as select * from '{sf_dir}/{t}.parquet'")
    got_cols, got = check_oracle._canon(entry.queries()[name](spark, sf_dir).toPandas())
    want_cols, want = check_oracle._canon(con.sql(entry.oracle_sql()[name]).df())
    assert sorted(got_cols) == sorted(want_cols)
    assert len(got) > 0 and len(got) == len(want)
    assert check_oracle.value_hash(got) == check_oracle.value_hash(want)
