"""Serving-latency measurement smoke: the bench's twin-latency map has
an entry per measured serving twin (the shared DEFAULT_TWINS list)
with a real trigger→commit number."""

from __future__ import annotations

from scala_reactivex_spark.streaming.latency import DEFAULT_TWINS

EXPECTED = set(DEFAULT_TWINS)


def test_measure_serving_latency_covers_default_set(spark, sf_dir, tmp_path):
    from scala_reactivex_spark.streaming.latency import (
        measure_serving_latency,
    )

    res = measure_serving_latency(
        spark, sf_dir, str(tmp_path / "lat"), reps=1
    )
    assert set(res) == EXPECTED
    for name, row in res.items():
        assert row["cold_sec"] > 0, name
        # The probe sources are written as 2 files with
        # maxFilesPerTrigger=1, so every twin drains in (at least) two
        # micro-batches — and the listener settle loop must count BOTH
        # (detaching after the first progress event was the r9 bug).
        assert row["batches"] >= 2, name
        # The settle waits for one batch per source part file; a
        # shortfall is recorded, never hidden.
        assert row["batches"] <= row["expected_batches"], name
        # reps=1 records no warm stats by design — drain time is the
        # measured number; the listener still proves ≥1 batch ran.


def test_settle_count_skips_empty_part_files(tmp_path):
    """An empty part file never yields a non-empty micro-batch, so the
    settle's expected batch count leaves it out (it used to count it
    and wait out the whole settle deadline)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from scala_reactivex_spark.streaming.latency import _n_source_files

    src = tmp_path / "src"
    src.mkdir()
    rows = pa.table({"v": [1, 2, 3]})
    pq.write_table(rows, src / "part-0.parquet")
    pq.write_table(rows.slice(0, 1), src / "part-1.parquet")
    pq.write_table(rows.slice(0, 0), src / "part-2.parquet")
    (src / "_SUCCESS").write_text("")
    assert _n_source_files(str(src)) == 2
    assert _n_source_files(None) == 1


def test_tap_counts_only_its_own_query(spark, sf_dir, tmp_path):
    """The progress listener is session-wide: a second stream running
    beside the measured twin adds no batches to its count."""
    import time

    from scala_reactivex_spark.streaming.latency import (
        measure_serving_latency,
    )

    other = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 100)
        .load()
        .writeStream.format("noop")
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    try:
        deadline = time.monotonic() + 30
        while not other.lastProgress and time.monotonic() < deadline:
            time.sleep(0.05)
        assert other.lastProgress, "the second stream must be running"
        res = measure_serving_latency(
            spark,
            sf_dir,
            str(tmp_path / "lat"),
            reps=2,
            only={"twin_zorder_route"},
        )
        assert other.isActive
    finally:
        other.stop()
    row = res["twin_zorder_route"]
    assert row["batches"] == row["expected_batches"] >= 2
