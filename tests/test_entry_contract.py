"""Replays the driver's correctness gate: each __spark_entry__ query vs its
DuckDB oracle at sf0.01 — row count, column names, and order-insensitive
value equality (the driver hashes; we compare canonicalized frames, which
is strictly stronger)."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
_TABLES = ("documents",)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in _TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(lambda v: None if pd.isna(v) else str(v))
    return df.sort_values(by=list(df.columns), ignore_index=True)


@pytest.mark.parametrize("name", sorted(entry_mod.queries()))
def test_query_matches_oracle(spark, duck, name):
    q = entry_mod.queries()[name]
    sql = entry_mod.oracle_sql().get(name)
    df = q(spark, SF_DIR)
    got = df.toPandas()
    # release operator-internal persists so cached frames don't pile up
    # across the shared test session (the bench does the same)
    for h in getattr(df, "_persist_handles", ()):
        h.unpersist()
    if sql is None:
        # driver records a rows-only check for oracle-less queries
        assert len(got) > 0, f"{name}: rows-only query returned nothing"
        return
    want = duck.sql(sql).df()
    assert len(got) == len(want), f"{name}: rows {len(got)} != {len(want)}"
    assert sorted(got.columns) == sorted(want.columns), f"{name}: columns differ"
    g, w = _canon(got), _canon(want)
    if not g.equals(w):
        diff = (g != w).any(axis=1)
        raise AssertionError(
            f"{name}: value mismatch\nspark:\n{g[diff].head(5)}\noracle:\n{w[diff].head(5)}"
        )


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.count()
    assert rows > 1000
    assert set(df.columns) >= {"conv_id", "turn_idx", "keep", "drop_reason"}


def test_every_query_has_an_oracle_and_vice_versa():
    """The driver contract invariant: a query without an oracle silently
    demotes to a rows-only check; an oracle without a query never runs.
    Both must fail loudly here instead."""
    q, o = set(entry_mod.queries()), set(entry_mod.oracle_sql())
    assert o - q == set(), f"oracles without queries: {o - q}"
    assert q - o == set(), f"queries without oracles (rows-only!): {q - o}"
