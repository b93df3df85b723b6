"""Driver-contract parity: every queries() entry matches its
oracle_sql() on row count, schema and order-insensitive value hash
(the same compare CORRECTNESS_r{N}.json records, at sf0.001)."""

import pytest

from conftest import SF_DIR
from oracle_compare import compare

import __spark_entry__ as entrymod


def _pairs():
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    return [(name, q[name], o[name]) for name in sorted(q) if name in o]


@pytest.mark.parametrize("name,fn,sql", _pairs(), ids=[p[0] for p in _pairs()])
def test_query_matches_oracle(spark, duck, name, fn, sql):
    rep = compare(spark, duck, fn, sql, SF_DIR)
    assert rep["rows_match"], rep
    assert rep["schema_match"], rep
    assert rep["hash_match"], rep
    # a 0 = 0 match verifies nothing about value logic — every pair must
    # produce rows at this SF (thresholds are tuned for it)
    assert rep["spark_rows"] > 0, f"{name}: trivially-green 0-row oracle"


def test_oracle_columns_have_no_wide_numeric_types(duck):
    """DuckDB types an un-cast integer sum() as HUGEINT and decimal
    arithmetic as DECIMAL; an Arrow-fetching comparator reads those as
    128-bit/decimal values that never equal Spark's bigint/double, so
    every oracle column must come back as a plain integer/float type."""
    wide = {}
    for name, sql in sorted(entrymod.oracle_sql().items()):
        rel = duck.sql(sql)
        assert rel.fetchall(), f"{name}: oracle returned no rows"
        cols = [f"{c} {t}" for c, t in zip(rel.columns, rel.types)
                if str(t).startswith(("DECIMAL", "HUGEINT", "UHUGEINT"))]
        if cols:
            wide[name] = cols
    assert not wide, wide


def test_every_query_has_oracle():
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    missing = set(q) - set(o)
    # non-SQL-expressible ops (driver records rows-only) must be a
    # deliberate, documented set — currently EMPTY; stale names in this
    # set fail loudly via the subset check below
    allowed_weak: set = set()
    assert allowed_weak <= set(q)
    assert missing <= allowed_weak, f"queries without oracle: {missing}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.limit(5).collect()
    assert len(rows) > 0
    assert set(df.columns) >= {"z", "x", "y", "feature_count"}
