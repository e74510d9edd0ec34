"""Meta-tests of the verification machinery itself: the gate must be able
to FAIL.  A verifier that cannot detect a wrong answer proves nothing, so
these tests feed table_hash deliberately corrupted results and require a
mismatch, plus sanity on the canonicalization rules the driver applies
(column-name ordering, row-order insensitivity, None/NaN/bool forms)."""

from __future__ import annotations

import verify_local as _vl


def test_table_hash_is_order_insensitive_but_value_sensitive():
    cols = ["b", "a"]
    rows = [(1, "x"), (2, "y")]
    h = _vl.table_hash(cols, rows)
    assert h == _vl.table_hash(cols, list(reversed(rows)))
    # Column ordering is by NAME: swapping names must change the hash
    # when values are asymmetric.
    assert h != _vl.table_hash(["a", "b"], rows)
    # Any single-cell corruption must change the hash.
    assert h != _vl.table_hash(cols, [(1, "x"), (2, "z")])
    assert h != _vl.table_hash(cols, [(1, "x")])


def test_norm_cell_distinguishes_the_tricky_values():
    n = _vl.norm_cell
    assert n(None) != n("None") != n(0)
    assert n(True) != n(1)
    assert n(float("nan")) == "nan"
    assert n(1.5) == repr(1.5)
    # -0.0 and 0.0 normalize differently ONLY if repr differs — document
    # the actual behavior so a future change is a conscious one.
    assert n(-0.0) == repr(-0.0)


def test_collect_capped_refuses_unbounded(spark):
    df = spark.range(0, 100)
    rows = _vl.collect_capped(df, cap=100)
    assert len(rows) == 100
    try:
        _vl.collect_capped(spark.range(0, 101), cap=100)
    except OverflowError:
        pass
    else:  # pragma: no cover
        raise AssertionError("cap must refuse oversized results")


def test_gate_detects_a_doctored_oracle(spark, sf_dir, oracle_con):
    """End-to-end negative control: run a real query against a WRONG
    oracle and require the gate to report a value hash mismatch."""
    from scala_reactivex_spark.plans.registry import registry

    spec = registry()["llm_dedup_exact"]
    sdf = spec.fn(spark, sf_dir)
    assert _vl.check(sdf, oracle_con, spec.oracle)[1] == []
    doctored = spec.oracle.replace("min(doc_id)", "min(doc_id) + 1")
    assert doctored != spec.oracle
    assert _vl.check(sdf, oracle_con, doctored)[1][0] == "value hash mismatch"


def test_gate_refuses_non_scalar_and_int128_columns(spark, oracle_con):
    """Values that agree still fail when the grading gate could not hash them:
    an array output column, or an oracle column left as DuckDB int128."""
    from pyspark.sql import functions as F

    ids = spark.range(3).select(F.col("id").alias("n"))
    ok = "SELECT CAST(range AS BIGINT) AS n FROM range(3)"
    assert _vl.check(ids, oracle_con, ok)[1] == []
    arr = ids.select(F.array("n").alias("n"))
    assert "non-scalar" in _vl.check(arr, oracle_con, ok)[1][0]
    wide = "SELECT CAST(range AS HUGEINT) AS n FROM range(3)"
    assert "int128" in _vl.check(ids, oracle_con, wide)[1][0]
