"""The scale probe's fixture rule (scripts/scale_probe.py), DuckDB only.

A ratio measured by the probe is growth only if the grown fixture holds
``copies`` genuinely distinct copies of each fact table: exactly
``copies``× the rows, ids disjoint across copies, no text token and no
vector shared between copies (duplicates would turn LSH and ANN costs
into cluster-size effects), and the dimension tables left as the base.
"""

from __future__ import annotations

import os
import subprocess
import sys

import duckdb
import pytest

import scale_probe

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASE = os.path.join(REPO, "perfbench", "data", "sf0.001")

#: Per fact table, the columns whose distinct values must not repeat
#: across copies.
DISJOINT = {
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
    "events": ("event_id", "user_id"),
    "lineitem": ("l_orderkey",),
    "orders": ("o_orderkey",),
}


@pytest.fixture(scope="module")
def grown(tmp_path_factory):
    return scale_probe.fixture(2, BASE, str(tmp_path_factory.mktemp("sp")))


def _one(sql: str):
    return duckdb.sql(sql).fetchone()[0]


def test_one_copy_is_the_base():
    assert scale_probe.fixture(1, BASE, "/nonexistent") == BASE


def test_fixture_holds_every_table_and_no_temp_file(grown):
    assert set(DISJOINT) == set(scale_probe.GROW)
    assert sorted(os.listdir(grown)) == sorted(
        f"{t}.parquet" for t in scale_probe.DIMENSIONS + tuple(scale_probe.GROW)
    )


@pytest.mark.parametrize("table", sorted(DISJOINT))
def test_fact_table_doubles_with_disjoint_ids(grown, table):
    base, big = f"'{BASE}/{table}.parquet'", f"'{grown}/{table}.parquet'"
    assert _one(f"SELECT count(*) FROM {big}") == 2 * _one(
        f"SELECT count(*) FROM {base}"
    )
    for col in DISJOINT[table]:
        assert _one(f"SELECT count(DISTINCT {col}) FROM {big}") == 2 * _one(
            f"SELECT count(DISTINCT {col}) FROM {base}"
        ), col


@pytest.mark.parametrize("table", scale_probe.DIMENSIONS)
def test_dimension_table_is_the_base(grown, table):
    base, big = f"'{BASE}/{table}.parquet'", f"'{grown}/{table}.parquet'"
    for a, b in ((base, big), (big, base)):
        assert _one(
            f"SELECT count(*) FROM (FROM {a} EXCEPT ALL FROM {b})"
        ) == 0


def test_document_copies_share_no_token(grown):
    tokens = (
        "SELECT count(DISTINCT tok) FROM "
        "(SELECT unnest(string_split(text, ' ')) AS tok FROM '{}')"
    )
    assert _one(tokens.format(f"{grown}/documents.parquet")) == 2 * _one(
        tokens.format(f"{BASE}/documents.parquet")
    )


def test_embedding_copies_share_no_vector(grown):
    vectors = "SELECT count(DISTINCT embedding) FROM '{}'"
    assert _one(vectors.format(f"{grown}/embeddings.parquet")) == 2 * _one(
        vectors.format(f"{BASE}/embeddings.parquet")
    )


def test_probe_imports_only_the_stdlib():
    """Loading the probe must not pull in DuckDB, Spark or the engine."""
    code = (
        "import sys; sys.path.insert(0, 'scripts'); import scale_probe; "
        "print(sorted({'duckdb', 'pyspark', 'scala_reactivex_spark'} "
        "& {m.split('.')[0] for m in sys.modules}))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    assert out.strip() == "[]"
