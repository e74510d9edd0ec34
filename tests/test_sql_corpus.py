"""Raw-SQL corpus law: every entry equals its DataFrame implementation.

For each {name: sql} in ``sql_corpus()``, running the SQL through
``spark.sql`` over the registered fixture views must give the same column
names, dtypes and ``verify_local.table_hash`` as the registry's DataFrame
implementation, whose rows the session's ``key_result`` fixture collects
once per key (the same run ``tests/test_contract.py::test_query_runs``
holds to the DuckDB oracle).
"""

from __future__ import annotations

import pytest
import verify_local

from scala_reactivex_spark.plans.registry import registry
from scala_reactivex_spark.plans.sql_corpus import (
    PORTABLE_ORACLE_KEYS,
    SPARK_SQL_OVERRIDES,
    run_sql,
    sql_corpus,
)


@pytest.mark.parametrize("name", sorted(sql_corpus()))
def test_sql_corpus_entry_equals_dataframe_impl(spark, sf_dir, key_result, name):
    want = key_result(name)
    got = run_sql(spark, sf_dir, name)
    assert sorted(got.columns) == sorted(want.columns)
    # Column TYPES must agree too: the value hash compares str(cell), so
    # BIGINT 1 vs STRING '1' drift would otherwise pass.
    assert sorted(got.dtypes) == sorted(want.dtypes)
    assert (
        verify_local.table_hash(got.columns, verify_local.collect_capped(got))
        == want.value_hash
    )


def test_overrides_do_not_shadow_portable_oracles():
    """An override for a key whose oracle already runs in Spark would be
    dead text that can silently drift — keep the two sets disjoint."""
    assert not set(SPARK_SQL_OVERRIDES) & set(PORTABLE_ORACLE_KEYS)


def test_corpus_covers_every_registry_key():
    """The raw-SQL surface is CLOSED: every registry key has a
    Spark-runnable corpus entry (round-8 verdict gap — the last four
    connected-components keys now run via the cycle-guarded bounded
    recursive form in sql_corpus._cc_spark_overrides)."""
    missing = set(registry()) - set(sql_corpus())
    assert not missing, f"registry keys missing from SQL corpus: {missing}"

