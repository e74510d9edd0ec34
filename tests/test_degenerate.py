"""SURVEY §2.1 degenerate creation (empty/never/throw/defer/repeat) and
§2.2 ignoreElements — the two contract rows with no queries() key; unit
tests per the survey (no oracle needed)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException  # noqa: F401 - api surface

from scala_reactivex_spark.operators.creation import (
    defer,
    empty,
    never,
    never_stream,
    repeat,
    throw,
)
from scala_reactivex_spark.operators.stateless import ignore_elements
from scala_reactivex_spark.sources.catalog import table


def test_empty_completes_with_no_rows_and_schema(spark):
    df = empty(spark, "a bigint, b string")
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["a", "b"]


def test_never_batch_twin_is_element_free(spark):
    assert never(spark).count() == 0


def test_never_stream_is_unbounded(spark):
    df = never_stream(spark)
    assert df.isStreaming


def test_throw_errors_at_action_not_assembly(spark):
    df = throw(spark, "boom [RX:empty-never-throw]")  # assembly: no raise
    assert "value" in df.columns
    with pytest.raises(Exception, match="boom"):
        df.collect()


def test_defer_reinvokes_factory_per_subscription(spark):
    calls = []

    def factory():
        calls.append(1)
        return spark.range(3)

    assert defer(factory).count() == 3
    assert defer(factory).count() == 3
    assert len(calls) == 2  # a single frozen plan would have been built once


def test_repeat_emits_n_copies(spark):
    out = repeat(spark, 42, 5)
    assert out.count() == 5
    assert out.where(F.col("value") != 42).count() == 0


def test_ignore_elements_drops_rows_keeps_schema(spark, sf_dir):
    src = table(spark, sf_dir, "events")
    out = ignore_elements(src)
    assert out.count() == 0
    assert [(f.name, f.dataType) for f in out.schema.fields] == [
        (f.name, f.dataType) for f in src.schema.fields
    ]


def test_ignore_elements_propagates_upstream_error(spark):
    # Rx ignoreElements still surfaces onError: upstream must EXECUTE.
    with pytest.raises(Exception, match="boom"):
        ignore_elements(throw(spark, "boom")).count()


def test_bloom_fpr_audit_empty_negative_universe(spark):
    """``llm_bloom_fpr_audit`` with no negative gram (``n_neg = 0``):
    the measured rate and the 2x flag are NULL in Spark and in the
    DuckDB oracle alike (unguarded, Spark's ANSI-mode DIV raised
    DIVIDE_BY_ZERO while DuckDB's // gave NULL), and a non-degenerate
    row still agrees."""
    import duckdb

    from scala_reactivex_spark.operators.llm_curation import _bloom_fpr_cols

    cases = [(40, 0, 0), (40, 1000, 3)]
    c = spark.createDataFrame(cases, "n_set bigint, n_neg bigint, n_fp bigint")
    got = [tuple(r) for r in c.selectExpr(*_bloom_fpr_cols("DIV")).collect()]
    values = ", ".join(f"({s}, {n}, {f})" for s, n, f in cases)
    oracle = duckdb.sql(
        f"WITH c(n_set, n_neg, n_fp) AS (VALUES {values}) SELECT "
        + ", ".join(_bloom_fpr_cols("//"))
        + " FROM c"
    ).fetchall()
    assert sorted(got) == sorted(oracle)
    empty = next(r for r in got if r[2] == 0)
    assert empty[4] is None and empty[6] is None
    full = next(r for r in got if r[2] == 1000)
    assert full[4] == 3000 and full[6] is not None
