"""Local replica of the driver's correctness gate: run every queries() entry
AND its oracle_sql() twin on sf0.01, compare row count + schema-ish + exact
values (order-insensitive, columns sorted by name) — the same contract the
driver's CORRECTNESS check applies.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entrymod

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_CORRECTNESS", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda x: None if x is None else x)
    df = df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def _compare(name: str, got: pd.DataFrame, exp: pd.DataFrame):
    assert len(got) == len(exp), f"{name}: rows {len(got)} != {len(exp)}"
    assert sorted(got.columns) == sorted(exp.columns), (
        f"{name}: cols {sorted(got.columns)} != {sorted(exp.columns)}"
    )
    g, e = _normalize(got), _normalize(exp)
    for c in g.columns:
        gv, ev = g[c].to_numpy(), e[c].to_numpy()
        if np.issubdtype(gv.dtype, np.floating) or np.issubdtype(ev.dtype, np.floating):
            ok = np.allclose(
                gv.astype(float), ev.astype(float), rtol=0, atol=0, equal_nan=True
            )
        else:
            ok = (pd.Series(gv).fillna("\0N") == pd.Series(ev).fillna("\0N")).all()
        assert ok, f"{name}: column {c} differs\nspark:\n{g.head(5)}\noracle:\n{e.head(5)}"


ALL = sorted(entrymod.queries().keys())


@pytest.mark.parametrize("name", ALL)
def test_query_matches_oracle(spark, duck, name):
    q = entrymod.queries()[name]
    oracles = entrymod.oracle_sql()
    got = q(spark, SF_DIR).toPandas()
    if name not in oracles:
        # rows-only contract (non-SQL-expressible op)
        assert len(got) >= 0
        return
    exp = duck.execute(oracles[name]).df()
    _compare(name, got, exp)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"window_start", "window_end", "event_type", "cnt"}


def test_query_starts_from_session_scan_split(spark):
    """A query that never calls _t() scans with the session's split size,
    whatever _t() query ran before it in the same session."""
    key = "spark.sql.files.maxPartitionBytes"
    seen = []
    probe = entrymod._with_runtime(lambda s, sf: seen.append(s.conf.get(key)))
    probe(spark, SF_DIR)
    entrymod.queries()["text_profile"](spark, SF_DIR)  # _t() resizes the split
    assert spark.conf.get(key) != seen[0]
    probe(spark, SF_DIR)
    assert seen[1] == seen[0]
