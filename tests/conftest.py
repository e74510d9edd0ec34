from __future__ import annotations

import os
import sys
from typing import NamedTuple

import pytest

# scripts/verify_local.py holds the per-key gate the tests share.
sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts")
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from scala_reactivex_spark.session import get_spark

    spark = get_spark("pytest", master="local[4]", shuffle_partitions=4)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def oracle_con(sf_dir):
    """DuckDB over the fixture tables, shared by every oracle check."""
    import verify_local

    con = verify_local.oracle_connection(sf_dir)
    yield con
    con.close()


class KeyResult(NamedTuple):
    columns: list
    dtypes: list
    value_hash: str
    problems: list


@pytest.fixture(scope="session")
def key_result(spark, sf_dir, oracle_con):
    """Per-key gate result, computed once per session: the key's DataFrame
    implementation runs once, is held to its DuckDB oracle by
    ``verify_local.check``, and its columns, dtypes and ``table_hash`` are
    kept for the SQL-corpus comparison."""
    import verify_local
    from scala_reactivex_spark.plans.registry import registry

    results: dict[str, KeyResult] = {}

    def result(name: str) -> KeyResult:
        if name not in results:
            spec = registry()[name]
            sdf = spec.fn(spark, sf_dir)
            rows, problems = verify_local.check(sdf, oracle_con, spec.oracle)
            results[name] = KeyResult(
                sdf.columns,
                sdf.dtypes,
                verify_local.table_hash(sdf.columns, rows),
                problems,
            )
        return results[name]

    return result
