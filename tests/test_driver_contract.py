"""Local twin of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB over the same parquet, compare
row counts + column names + values (order-insensitive)."""

from __future__ import annotations

import math
import os
import shutil

import duckdb
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF_DIR}/{t}.parquet')")
    yield con
    con.close()


def _norm(v):
    import decimal
    if v is None:
        return None
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, int):
        return int(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # one final guard against last-ulp drift after both sides round(…, 6)
        return round(v, 6)
    return v


def _frame(rows, cols):
    cols = list(cols)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(_norm(r[i]) for i in order) for r in rows)
    return sorted(c for c in cols), out


ORACLE_NAMES = sorted(entrymod.oracle_sql())


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_duckdb_oracle(spark, duck, name):
    q = entrymod.queries()[name]
    sdf = q(spark, SF_DIR)
    s_cols, s_rows = _frame([tuple(r) for r in sdf.collect()], sdf.columns)

    res = duck.execute(entrymod.oracle_sql()[name])
    d_cols, d_rows = _frame(res.fetchall(),
                            [d[0] for d in res.description])

    assert s_cols == d_cols, f"{name}: column names differ"
    assert len(s_rows) == len(d_rows), f"{name}: row counts differ"
    mism = [(a, b) for a, b in zip(s_rows, d_rows) if a != b][:5]
    assert not mism, f"{name}: first value mismatches: {mism}"


def test_rows_only_queries_run(spark):
    qs = entrymod.queries()
    for name in qs:
        if name in entrymod.oracle_sql():
            continue
        df = qs[name](spark, SF_DIR)
        assert df.count() >= 0 and df.schema is not None, name


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_lakehouse_scratch_dir_is_where_builders_cache(spark):
    # the root bench.py clears before a timed pass must be the root the
    # entry's builder caches under, or the timed pass reads a cached table
    from pdf_parser_spark.queries import (LAKEHOUSE_SCRATCH_PREFIXES,
                                          QUERIES, lakehouse_scratch_dir)
    for name in LAKEHOUSE_SCRATCH_PREFIXES:
        d = lakehouse_scratch_dir(name, SF_DIR)
        shutil.rmtree(d, ignore_errors=True)
        QUERIES[name](spark, SF_DIR).count()
        assert os.path.isdir(d), name
    assert lakehouse_scratch_dir("q1_pricing_summary", SF_DIR) is None
