"""Every __spark_entry__ query vs its DuckDB oracle at sf0.001 —
the same check the driver's t2 gate runs at sf0.01."""

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).parent))
from conftest import requires_reference
from oracle_harness import compare_query

import __spark_entry__ as E
from duckdb_iceberg_spark.entries.iceberg_entries import _REFERENCE_ENTRIES

_QUERIES = E.queries()
_ORACLES = E.oracle_sql()


def test_contract_shape():
    assert set(_ORACLES) <= set(_QUERIES)
    # a healthy majority must be strongly (oracle-) checked
    assert len(_ORACLES) >= 40


def test_core_aliases_are_pure_aliases():
    """The a0_..a4_ window aliases (driver 50-entry gate affordance)
    must be the SAME callable and SAME oracle SQL as their canonical
    entry — anything else could drift. Sweeping them again below would
    re-run byte-identical work, so the parametrized sweep dedupes."""
    for alias, canonical in E._CORE_ALIASES.items():
        assert _QUERIES[alias] is _QUERIES[canonical], alias
        assert _ORACLES[alias] == _ORACLES[canonical], alias
    # and they land inside the first-50 window with room for the agg block
    window = sorted(_QUERIES)[:50]
    assert all(a in window for a in E._CORE_ALIASES)


def test_reference_entries_are_declared():
    """The entries skipped without the reference tables are real,
    oracle-checked entries (a stale name would silently mark nothing)."""
    assert _REFERENCE_ENTRIES <= set(_ORACLES) - set(E._CORE_ALIASES)


def test_entry_smoke(spark):
    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(k, marks=requires_reference) if k in _REFERENCE_ENTRIES else k
        for k in sorted(_QUERIES)
        if k not in E._CORE_ALIASES
    ],
)
def test_query_matches_oracle(spark, sf_dir, name):
    ok, detail = compare_query(spark, sf_dir, name, _QUERIES[name], _ORACLES.get(name))
    assert ok, f"{name}: {detail}"
