"""Driver-contract conformance: entry() runs, every queries() entry runs at
sf0.001, every query has an oracle and none drops out."""

from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_oracle_keys_subset_of_queries():
    # every query is paired with a DuckDB oracle
    assert set(entrymod.oracle_sql()) == set(entrymod.queries())
    # pinned size: a plan module that stops registering its queries fails
    # here; a deliberate change to the query surface updates the number
    assert len(entrymod.queries()) == 215


@pytest.mark.parametrize("name", sorted(entrymod.queries()))
def test_each_query_runs(spark, name):
    df = entrymod.queries()[name](spark, SF)
    assert df.count() >= 0
