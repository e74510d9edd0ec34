"""Streaming-twin smoke + equivalence laws (SURVEY.md §2.8, §5.4).

Each twin runs over the sf0.001 events parquet as a file-source stream
(availableNow trigger → drains fully, then stops) and, where the batch
operator has identical semantics, the streaming result must EQUAL the batch
result — the strongest form of the reference's hot/cold equivalence.
"""

from __future__ import annotations

import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from scala_reactivex_spark.operators import stateful, windows
from scala_reactivex_spark.streaming import sinks, twins


@pytest.fixture(scope="module")
def stream_src(spark, sf_dir, tmp_path_factory):
    src = tmp_path_factory.mktemp("events_src")
    shutil.copy(f"{sf_dir}/events.parquet", src / "part-0.parquet")
    return str(src)


@pytest.fixture(scope="module")
def ckpt(tmp_path_factory):
    return str(tmp_path_factory.mktemp("ckpt"))


def test_twin_tumbling_equals_batch(spark, sf_dir, stream_src, ckpt):
    sdf = twins.events_stream(spark, stream_src)
    out = twins.run_stream_to_table(
        twins.twin_tumbling(sdf), "t_tumbling", ckpt, output_mode="complete"
    )
    batch = windows.op_window_tumbling(spark, sf_dir).select(
        "bucket_ms", "event_type", "n", "total_value"
    )
    assert out.count() == batch.count()
    assert out.exceptAll(batch).count() == 0


def test_twin_session_equals_batch(spark, sf_dir, stream_src, ckpt):
    sdf = twins.events_stream(spark, stream_src)
    out = twins.run_stream_to_table(
        twins.twin_session(sdf), "t_session", ckpt, output_mode="complete"
    )
    batch = windows.op_window_session(spark, sf_dir).select(
        "user_id", "session_start_ms", "n_events"
    )
    assert out.count() == batch.count()
    assert out.exceptAll(batch).count() == 0


def test_twin_sliding_smoke(spark, stream_src, ckpt):
    sdf = twins.events_stream(spark, stream_src)
    out = twins.run_stream_to_table(
        twins.twin_sliding(sdf), "t_sliding", ckpt, output_mode="complete"
    )
    assert out.count() > 0
    assert set(out.columns) == {"ws_ms", "event_type", "n"}


def test_twin_scan_matches_batch_totals(spark, sf_dir, stream_src, ckpt):
    """Law: the streaming scan's max running_sum per user == batch reduce."""
    sdf = twins.events_stream(spark, stream_src)
    out = twins.run_stream_to_table(
        twins.twin_running_scan(sdf), "t_scan", ckpt
    )
    # Full 4-dp contract: the twin's integer-micro accumulation makes the
    # final running_sum BIT-equal to the batch DECIMAL(38,6) reduce.
    finals = out.groupBy("user_id").agg(
        F.max("running_sum").alias("total")
    )
    batch = stateful.op_reduce(spark, sf_dir).select(
        "user_id", F.col("total_value").alias("total")
    )
    assert finals.exceptAll(batch).count() == 0
    assert finals.count() == batch.count()


def test_twin_distinct_until_changed_equals_batch(
    spark, sf_dir, stream_src, ckpt
):
    sdf = twins.events_stream(spark, stream_src)
    out = twins.run_stream_to_table(
        twins.twin_distinct_until_changed(sdf), "t_duc", ckpt
    )
    batch = stateful.op_distinct_until_changed(spark, sf_dir).select(
        "user_id", "event_id", "ms", "event_type"
    )
    assert out.count() == batch.count()
    assert out.exceptAll(batch).count() == 0


def test_twin_debounce_subset_of_batch(spark, sf_dir, stream_src, ckpt):
    """The streaming debounce withholds each key's final pending event
    (no stream end signal under NoTimeout), so it emits exactly the batch
    result minus the per-user last element."""
    sdf = twins.events_stream(spark, stream_src)
    out = twins.run_stream_to_table(twins.twin_debounce(sdf), "t_deb", ckpt)
    batch = windows.op_debounce(spark, sf_dir).select(
        "user_id", "event_id", "ms"
    )
    assert out.exceptAll(batch).count() == 0
    n_users = batch.select("user_id").distinct().count()
    assert out.count() == batch.count() - n_users


#: Tranches the interval-join tests drain, one per trigger.
JOIN_TRANCHES = 4


@pytest.fixture(scope="module")
def join_tranches(sf_dir, tmp_path_factory):
    """The sf0.001 events cut into time-ordered parquet tranches with
    rising mtimes (the file source drains them in mtime order, one per
    trigger), so join state must carry across triggers."""
    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    events = pq.read_table(f"{sf_dir}/events.parquet")
    events = events.take(
        pc.sort_indices(events, [("ts", "ascending"), ("event_id", "ascending")])
    )
    out = tmp_path_factory.mktemp("join_tranches")
    bounds = np.linspace(0, events.num_rows, JOIN_TRANCHES + 1).astype(int)
    t0 = time.time() - 3_600
    paths = []
    for i in range(JOIN_TRANCHES):
        path = str(out / f"tranche-{i}.parquet")
        pq.write_table(events.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        os.utime(path, (t0 + 10 * i, t0 + 10 * i))
        paths.append(path)
    return paths


def _deliver(paths, src) -> str:
    """Copy tranches into the stream source ``src``, keeping their mtimes."""
    os.makedirs(src, exist_ok=True)
    for path in paths:
        shutil.copy2(path, src)
    return str(src)


def _batch_pairs(sf_dir) -> list[tuple]:
    """The batch interval join's (p_user, p_event_id, c_event_id) rows, in
    DuckDB: perfbench's pair SQL over the whole fixture."""
    import duckdb

    events = f"read_parquet('{sf_dir}/events.parquet')"
    return sorted(
        duckdb.sql(
            f"SELECT p.user_id, p.event_id, c.event_id FROM {events} p "
            f"JOIN {events} c ON p.user_id = c.user_id "
            "AND c.ts BETWEEN p.ts - INTERVAL 1 DAY AND p.ts "
            "WHERE p.event_type = 'purchase' AND c.event_type = 'click'"
        ).fetchall()
    )


def _pairs(df) -> list[tuple]:
    return sorted(
        tuple(r) for r in df.select("p_user", "p_event_id", "c_event_id").collect()
    )


def _join_stores(progress) -> list[tuple[int, int, bool]]:
    """(numStateStoreInstances, numShufflePartitions, RocksDB metrics
    present) of the join operator, per progress event that ran a batch."""
    return [
        (
            op.numStateStoreInstances,
            op.numShufflePartitions,
            any(k.startswith("rocksdb") for k in op.customMetrics),
        )
        for p in progress
        if p.numInputRows
        for op in p.stateOperators
    ]


@pytest.fixture(scope="module")
def join_drain(spark, join_tranches, tmp_path_factory):
    """One serving drain of the interval-join twin over all tranches:
    its result table and every progress event of the query."""
    from pyspark.sql.streaming import StreamingQueryListener

    progress, ended = [], set()

    class _Log(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            if event.progress.name == "t_join":
                progress.append(event.progress)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            ended.add(str(event.id))

    log = _Log()
    spark.streams.addListener(log)
    try:
        src = _deliver(join_tranches, tmp_path_factory.mktemp("join_src"))
        out = twins.run_stream_to_table(
            twins.twin_interval_join(twins.events_stream(spark, src)),
            "t_join",
            str(tmp_path_factory.mktemp("join_ckpt")),
        )
        # Progress events arrive asynchronously; the termination event
        # comes after the query's last progress event.
        deadline = time.monotonic() + 30
        while not ended and time.monotonic() < deadline:
            time.sleep(0.05)
    finally:
        spark.streams.removeListener(log)
    return out, progress


def test_twin_interval_join_equals_batch(sf_dir, join_drain):
    """Drained over time-ordered tranches, the interval-join twin emits
    exactly the batch interval join's pairs: none lost across triggers,
    none twice."""
    out, progress = join_drain
    assert sum(1 for p in progress if p.numInputRows) == JOIN_TRANCHES
    assert set(out.columns) == {"p_user", "p_event_id", "c_event_id"}
    want = _batch_pairs(sf_dir)
    assert want, "fixture must produce interval-join pairs"
    assert _pairs(out) == want


def test_twin_interval_join_keeps_one_store_per_partition(
    spark, join_drain, join_tranches, tmp_path
):
    """Under the serving conf a fresh join checkpoint runs on RocksDB
    with join state format 3: one state store per partition, where the
    HDFS-backed format 2 opened four.  Both runners, the memory-table
    one and the durable sink, start under it."""
    _, progress = join_drain
    durable = sinks.run_with_idempotent_sink(
        twins.twin_interval_join(
            twins.events_stream(spark, _deliver(join_tranches, tmp_path / "src"))
        ),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    n = int(os.environ.get("SPARK_GRAFT_STATE_PARTITIONS", "8"))
    for events in (progress, durable.recentProgress):
        assert _join_stores(events) == [(n, n, True)] * JOIN_TRANCHES


def test_legacy_join_checkpoint_restarts_under_serving_conf(
    spark, sf_dir, join_tranches, tmp_path
):
    """A join checkpoint made without the serving conf (HDFS-backed store,
    join format 2 and the FileContext checkpoint manager, as a user-owned
    stream or an older checkpoint has) restarts under it with its frozen
    provider, format and partition count and the FileSystem checkpoint
    manager, and the restored state still finds every pair."""
    src = _deliver(join_tranches[:2], tmp_path / "src")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    sdf = twins.twin_interval_join(twins.events_stream(spark, src))
    managers: list = []
    legacy = (
        sdf.writeStream.foreachBatch(
            _recording(sinks.idempotent_parquet_sink(out), managers)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    legacy.awaitTermination()
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert _join_stores(legacy.recentProgress) == [(4 * n, n, False)] * 2
    assert set(managers) == {None}

    _deliver(join_tranches[2:], src)
    managers.clear()
    restarted = sinks.run_foreach_batch(
        twins.twin_interval_join(twins.events_stream(spark, src)),
        _recording(sinks.idempotent_parquet_sink(out), managers),
        ckpt,
    )
    assert _join_stores(restarted.recentProgress) == [(4 * n, n, False)] * 2
    assert set(managers) == {FS_MANAGER}
    assert _pairs(spark.read.parquet(out)) == _batch_pairs(sf_dir)


def test_serving_stream_conf_restores_the_session_conf(spark, tmp_path):
    """The serving confs hold only inside the block: an unset conf is
    unset again after it, a caller's own value comes back unchanged, and
    both hold when the block raises."""
    join_fmt = "spark.sql.streaming.join.stateFormatVersion"
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    confs = {**sinks.SERVING_STREAM_CONFS, **sinks.LOCAL_CHECKPOINT_CONFS}
    unset = [k for k in confs if k != join_fmt]
    assert all(spark.conf.get(k, None) is None for k in unset)
    spark.conf.set(join_fmt, "2")
    try:
        with pytest.raises(RuntimeError):
            with sinks.serving_stream_conf(spark, str(tmp_path)):
                for key, value in confs.items():
                    assert spark.conf.get(key) == value
                assert spark.conf.get("spark.sql.shuffle.partitions") == (
                    os.environ.get("SPARK_GRAFT_STATE_PARTITIONS", "8")
                )
                raise RuntimeError("start failed")
        assert all(spark.conf.get(k, None) is None for k in unset)
        assert spark.conf.get(join_fmt) == "2"
        assert spark.conf.get("spark.sql.shuffle.partitions") == parts
    finally:
        spark.conf.unset(join_fmt)


#: The checkpoint manager conf and the class a local checkpoint selects.
MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
FS_MANAGER = sinks.LOCAL_CHECKPOINT_CONFS[MANAGER_CONF]


def _recording(write_batch, managers: list):
    """``write_batch`` that first records the checkpoint manager conf of
    the running query's session (the session conf it cloned at start)."""

    def run(batch_df, batch_id):
        managers.append(batch_df.sparkSession.conf.get(MANAGER_CONF, None))
        write_batch(batch_df, batch_id)

    return run


def test_checkpoint_manager_follows_the_checkpoint_scheme(spark, tmp_path):
    """A checkpoint that resolves to the local filesystem, as a bare path
    or a ``file:`` URI, selects the FileSystem checkpoint manager; any
    other scheme leaves Spark's own choice.  Either way the conf is
    unset again after the block."""
    for location, want in (
        (str(tmp_path), FS_MANAGER),
        (tmp_path.as_uri(), FS_MANAGER),
        ("s3a://b/ckpt", None),
    ):
        with sinks.serving_stream_conf(spark, location):
            assert spark.conf.get(MANAGER_CONF, None) == want, location
        assert spark.conf.get(MANAGER_CONF, None) is None


def test_local_checkpoint_commits_through_the_filesystem_manager(
    spark, stream_src, tmp_path
):
    """A serving drain to a local checkpoint runs every batch under the
    FileSystem checkpoint manager, the session conf is unset again after
    ``start()``, and every checksum file is still written: Spark's
    ``N.changelog.crc`` beside each state changelog, and Hadoop's
    ``.crc`` side files beside the changelogs and the offset and commit
    logs."""
    import glob

    managers: list = []
    ckpt = str(tmp_path / "ckpt")
    sinks.run_foreach_batch(
        twins.twin_tumbling(twins.events_stream(spark, stream_src)),
        _recording(
            lambda df, _: df.write.format("noop").mode("overwrite").save(),
            managers,
        ),
        ckpt,
    )
    assert managers and set(managers) == {FS_MANAGER}
    assert spark.conf.get(MANAGER_CONF, None) is None
    changelogs = glob.glob(f"{ckpt}/state/*/*/*.changelog")
    assert changelogs
    for path in changelogs:
        head, name = os.path.split(path)
        assert os.path.exists(f"{path}.crc"), path
        assert os.path.exists(f"{head}/.{name}.crc"), path
    for log in ("offsets", "commits"):
        assert os.path.exists(f"{ckpt}/{log}/.0.crc"), log


@pytest.fixture(scope="module")
def docs_stream_src(spark, sf_dir, tmp_path_factory):
    """Documents split into 3 doc_id-range files written in order, so the
    file source (maxFilesPerTrigger=1) feeds doc_id-ordered micro-batches
    — the arrival-order contract of the packing twin."""
    import os
    import time

    src = tmp_path_factory.mktemp("docs_src")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    hi = docs.agg(F.max("doc_id")).collect()[0][0]
    cuts = [0, hi // 3, 2 * hi // 3, hi + 1]
    stamped: set[str] = set()
    base = time.time()
    for i in range(3):
        chunk = docs.where(
            (F.col("doc_id") >= cuts[i]) & (F.col("doc_id") < cuts[i + 1])
        )
        chunk.coalesce(1).write.mode("append").parquet(str(src))
        # FileStreamSource orders pending files by MODIFICATION TIME;
        # back-to-back writes can land in one mtime granule, so stamp each
        # chunk's new files with strictly increasing times to make the
        # 3-batch arrival order deterministic.
        for name in os.listdir(src):
            p = os.path.join(src, name)
            if name.endswith(".parquet") and p not in stamped:
                os.utime(p, (base + 10 * i, base + 10 * i))
                stamped.add(p)
    return str(src)


def test_twin_pack_sequences_equals_batch(
    spark, sf_dir, docs_stream_src, ckpt
):
    """Streaming packing over 3 ordered micro-batches (state carried
    across batch boundaries) aggregates to EXACTLY the batch
    llm_pack_sequences pack stats."""
    from scala_reactivex_spark.operators.llm_pipeline import (
        llm_pack_sequences,
    )

    sdf = twins.docs_stream(spark, docs_stream_src)
    out = twins.run_stream_to_table(
        twins.twin_pack_sequences(sdf), "t_pack", ckpt
    )
    finals = out.groupBy("lang", "pack_id").agg(
        F.count("*").alias("n_docs"), F.sum("n_tok").alias("pack_tokens")
    )
    batch = llm_pack_sequences(spark, sf_dir)
    assert finals.count() == batch.count()
    assert finals.exceptAll(batch).count() == 0


def test_twin_dedup_exact_equals_batch(spark, sf_dir, docs_stream_src, ckpt):
    """Streaming dropDuplicates on content hash keeps exactly the batch
    keep-set: same (text_hash, keep_id) pairs as llm_dedup_exact, with
    first-arrival == min(doc_id) under the ordered docs source."""
    from scala_reactivex_spark.operators.llm_dedup import llm_dedup_exact

    sdf = twins.docs_stream(spark, docs_stream_src)
    out = twins.run_stream_to_table(
        twins.twin_dedup_exact(sdf), "t_dedup", ckpt
    )
    got = {(r["text_hash"], r["doc_id"]) for r in out.collect()}
    want = {
        (r["text_hash"], r["keep_id"])
        for r in llm_dedup_exact(spark, sf_dir).collect()
    }
    assert got == want


def test_twin_corpus_filter_equals_batch(
    spark, sf_dir, docs_stream_src, ckpt
):
    """Stream-static corpus filter == the batch decision table's
    is_dup=false slice: same canonical docs, same quality/lang verdicts,
    same keep flags (first-arrival == min doc_id under the ordered docs
    source)."""
    from scala_reactivex_spark.operators.llm_compose import (
        llm_corpus_filter,
    )
    from scala_reactivex_spark.operators.llm_text import (
        llm_lang_id,
        llm_quality_score,
    )

    quality = llm_quality_score(spark, sf_dir)
    lang = llm_lang_id(spark, sf_dir)
    sdf = twins.docs_stream(spark, docs_stream_src)
    out = twins.run_stream_to_table(
        twins.twin_corpus_filter(sdf, quality, lang), "t_cfilter", ckpt
    )
    got = {
        (r["doc_id"], r["lang_pred"], r["quality"], r["keep"])
        for r in out.collect()
    }
    want = {
        (r["doc_id"], r["lang_pred"], r["quality"], r["keep"])
        for r in llm_corpus_filter(spark, sf_dir)
        .where("NOT is_dup")
        .collect()
    }
    assert got == want


def test_twin_cdc_upsert_equals_batch(spark, sf_dir, stream_src, ckpt):
    """The last emission per key equals the batch MERGE compaction exactly
    (n_changes is monotone, so max picks the final state)."""
    from scala_reactivex_spark.operators.timeseries import rel_cdc_upsert

    sdf = twins.events_stream(spark, stream_src)
    out = twins.run_stream_to_table(
        twins.twin_cdc_upsert(sdf), "t_cdc", ckpt, output_mode="update"
    )
    final = {}
    for r in out.collect():
        k = (r["user_id"], r["event_type"])
        if k not in final or r["n_changes"] > final[k]["n_changes"]:
            final[k] = r
    want = {
        (r["user_id"], r["event_type"]): r
        for r in rel_cdc_upsert(spark, sf_dir).collect()
    }
    assert set(final) == set(want)
    for k, r in final.items():
        w = want[k]
        assert (r["n_changes"], r["event_id"], r["ms"], r["value"]) == (
            w["n_changes"], w["event_id"], w["ms"], w["value"]
        )


def test_twin_asof_join_equals_batch(spark, sf_dir, stream_src, ckpt):
    """Single-batch drain in total order reproduces the batch as-of join
    row-for-row (same tie-breaking: a same-ts click is visible, max
    event_id wins)."""
    from scala_reactivex_spark.operators.timeseries import rel_join_asof

    sdf = twins.events_stream(spark, stream_src)
    out = twins.run_stream_to_table(twins.twin_asof_join(sdf), "t_asof", ckpt)
    got = {
        r["p_event_id"]: (r["c_event_id"], r["c_ms"])
        for r in out.collect()
    }
    want = {
        r["p_event_id"]: (r["c_event_id"], r["c_ms"])
        for r in rel_join_asof(spark, sf_dir).collect()
    }
    assert got == want


def test_twin_combine_latest_equals_batch(spark, sf_dir, stream_src, ckpt):
    """Single-batch drain in (ts, event_id) total order reproduces the
    batch combineLatest row-for-row — one emission per arrival once both
    sides have emitted, paired with the other side's latest value."""
    from scala_reactivex_spark.operators.combinators import op_combine_latest

    sdf = twins.events_stream(spark, stream_src)
    out = twins.run_stream_to_table(
        twins.twin_combine_latest(sdf), "t_combine_latest", ckpt
    )
    got = {
        r["event_id"]: (r["ms"], r["latest_purchase"], r["latest_click"])
        for r in out.collect()
    }
    want = {
        r["event_id"]: (r["ms"], r["latest_purchase"], r["latest_click"])
        for r in op_combine_latest(spark, sf_dir).collect()
    }
    assert got == want


def test_twin_with_latest_from_equals_batch(spark, sf_dir, stream_src, ckpt):
    """Emit-on-A-only: each purchase pairs with the latest click at or
    before it, exactly as the batch as-of pairing."""
    from scala_reactivex_spark.operators.combinators import (
        op_with_latest_from,
    )

    sdf = twins.events_stream(spark, stream_src)
    out = twins.run_stream_to_table(
        twins.twin_with_latest_from(sdf), "t_with_latest", ckpt
    )
    got = {
        r["event_id"]: (r["ms"], r["purchase_value"], r["latest_click"])
        for r in out.collect()
    }
    want = {
        r["event_id"]: (r["ms"], r["purchase_value"], r["latest_click"])
        for r in op_with_latest_from(spark, sf_dir).collect()
    }
    assert got == want


def test_twin_zip_equals_batch(spark, sf_dir, stream_src, ckpt):
    """FIFO pairing with buffered faster side reproduces the batch
    row_number equi-join pair-for-pair."""
    from scala_reactivex_spark.operators.combinators import op_zip

    sdf = twins.events_stream(spark, stream_src)
    out = twins.run_stream_to_table(twins.twin_zip(sdf), "t_zip", ckpt)
    key = ["user_id", "rn", "p_event_id", "c_event_id", "p_ms", "c_ms",
           "pair_value"]
    got = {tuple(r[k] for k in key) for r in out.collect()}
    want = {tuple(r[k] for k in key) for r in op_zip(spark, sf_dir).collect()}
    assert got == want


def test_twin_take_until_equals_batch(spark, sf_dir, stream_src, ckpt):
    from scala_reactivex_spark.operators.combinators import op_take_until

    sdf = twins.events_stream(spark, stream_src)
    out = twins.run_stream_to_table(
        twins.twin_take_until(sdf), "t_take_until", ckpt
    )
    got = {r["event_id"]: (r["ms"], r["value_r"]) for r in out.collect()}
    want = {
        r["event_id"]: (r["ms"], r["value_r"])
        for r in op_take_until(spark, sf_dir).collect()
    }
    assert got == want


def test_twin_amb_equals_batch(spark, sf_dir, stream_src, ckpt):
    from scala_reactivex_spark.operators.combinators import op_amb

    sdf = twins.events_stream(spark, stream_src)
    out = twins.run_stream_to_table(twins.twin_amb(sdf), "t_amb", ckpt)
    got = {r["event_id"]: (r["src"], r["ms"]) for r in out.collect()}
    want = {
        r["event_id"]: (r["src"], r["ms"])
        for r in op_amb(spark, sf_dir).collect()
    }
    assert got == want


def test_twin_switch_equals_batch(spark, sf_dir, stream_src, ckpt):
    from scala_reactivex_spark.operators.combinators import op_switch

    sdf = twins.events_stream(spark, stream_src)
    out = twins.run_stream_to_table(twins.twin_switch(sdf), "t_switch", ckpt)
    got = {r["event_id"]: (r["ms"], r["owner_sig"]) for r in out.collect()}
    want = {
        r["event_id"]: (r["ms"], r["owner_sig"])
        for r in op_switch(spark, sf_dir).collect()
    }
    assert got == want


def test_twin_topk_window_equals_batch(spark, sf_dir, stream_src, ckpt):
    """The live heavy-hitters state, ranked through the top-k view after
    the drain, equals the batch two-phase top-k row-for-row."""
    from scala_reactivex_spark.operators.windows import rel_topk_window

    sdf = twins.events_stream(spark, stream_src)
    out = twins.run_stream_to_table(
        twins.twin_topk_window(sdf), "t_topk_win", ckpt,
        output_mode="complete",
    )
    got = {
        (r["bucket_ms"], r["rnk"]): (r["user_id"], r["spend"], r["n"])
        for r in twins.topk_view(out).collect()
    }
    want = {
        (r["bucket_ms"], r["rnk"]): (r["user_id"], r["spend"], r["n"])
        for r in rel_topk_window(spark, sf_dir).collect()
    }
    assert got == want


@pytest.fixture(scope="module")
def embeddings_stream_src(spark, sf_dir, tmp_path_factory):
    src = tmp_path_factory.mktemp("embed_src")
    shutil.copy(f"{sf_dir}/embeddings.parquet", src / "part-0.parquet")
    return str(src)


def test_twin_kmeans_equals_batch_assignment(
    spark, sf_dir, embeddings_stream_src, ckpt
):
    """Streaming scoring against the batch-trained centroids emits the
    exact (vec_id, cluster_id, dist2) triples of llm_kmeans' final
    assignment — the broadcast-state serving path and the batch Lloyd
    loop agree bit-for-bit (integer distances)."""
    from scala_reactivex_spark.operators.llm_cluster import (
        _kmeans_loop,
        llm_kmeans,
    )

    _, centroids = _kmeans_loop(spark, sf_dir)
    sdf = twins.embeddings_stream(spark, embeddings_stream_src)
    out = twins.run_stream_to_table(
        twins.twin_kmeans(sdf, centroids), "t_kmeans", ckpt
    )
    got = {
        (r["vec_id"], r["cluster_id"], r["dist2"]) for r in out.collect()
    }
    want = {
        (r["vec_id"], r["cluster_id"], r["dist2"])
        for r in llm_kmeans(spark, sf_dir).collect()
    }
    assert got == want


def test_twin_decontaminate_bloom_equals_batch_flagging(
    spark, sf_dir, docs_stream_src, ckpt
):
    """Streaming Bloom probe flags exactly the grams whose per-doc counts
    the batch op reports: restricting the streamed flags to train docs
    reproduces every (doc_id, n_bloom_hits) pair."""
    from scala_reactivex_spark.operators.llm_pipeline import (
        decon_bloom_positions,
        llm_decontaminate_bloom,
    )

    bloom = decon_bloom_positions(spark, sf_dir)
    sdf = twins.docs_stream(spark, docs_stream_src)
    out = twins.run_stream_to_table(
        twins.twin_decontaminate_bloom(sdf, bloom), "t_bloom", ckpt
    )
    # train split membership via the same md5-nibble rule
    train_ids = {
        r.doc_id
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            "doc_id",
            F.substring(
                F.md5(F.col("text").cast("binary")), 1, 1
            ).alias("nib"),
        )
        .where(F.col("nib").between("0", "b"))
        .collect()
    }
    got: dict[int, int] = {}
    for r in out.collect():
        if r.doc_id in train_ids:
            got[r.doc_id] = got.get(r.doc_id, 0) + 1
    want = {
        r.doc_id: r.n_bloom_hits
        for r in llm_decontaminate_bloom(spark, sf_dir).collect()
    }
    assert got == want


def test_twin_contamination_gate_equals_batch_rollup(
    spark, sf_dir, docs_stream_src, ckpt
):
    """The per-document ingest gate (no explode, no shuffle, pure append)
    reproduces the batch op's per-doc Bloom hit counts exactly: every
    train doc's n_flagged equals its n_bloom_hits (docs absent from the
    batch output have n_flagged = 0 and are admitted), and quarantine is
    set iff the batch op would flag the doc."""
    from scala_reactivex_spark.operators.llm_pipeline import (
        decon_bloom_positions,
        llm_decontaminate_bloom,
    )

    bloom = decon_bloom_positions(spark, sf_dir)
    sdf = twins.docs_stream(spark, docs_stream_src)
    out = twins.run_stream_to_table(
        twins.twin_contamination_gate(sdf, bloom), "t_congate", ckpt
    )
    train_ids = {
        r.doc_id
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            "doc_id",
            F.substring(
                F.md5(F.col("text").cast("binary")), 1, 1
            ).alias("nib"),
        )
        .where(F.col("nib").between("0", "b"))
        .collect()
    }
    got = {
        r.doc_id: (r.n_flagged, r.quarantine)
        for r in out.collect()
        if r.doc_id in train_ids
    }
    want = {
        r.doc_id: r.n_bloom_hits
        for r in llm_decontaminate_bloom(spark, sf_dir).collect()
    }
    assert set(got) >= set(want)  # gate emits EVERY arrival
    for doc_id, (n_flagged, quarantine) in got.items():
        assert n_flagged == want.get(doc_id, 0)
        assert quarantine == (1 if doc_id in want else 0)


def test_twin_dedup_incremental_equals_batch(
    spark, sf_dir, docs_stream_src, ckpt
):
    """The streaming probe against the batch-built existing-corpus index
    reproduces llm_dedup_incremental exactly: same exact-dup flags, same
    verified near-match counts and best matches."""
    from scala_reactivex_spark.operators.llm_dedup import (
        incremental_is_incoming,
        incremental_static_sides,
        llm_dedup_incremental,
    )

    existing_hashes, existing_index = incremental_static_sides(
        spark, sf_dir
    )
    sdf = twins.docs_stream(spark, docs_stream_src).where(
        incremental_is_incoming()
    )
    out = twins.run_stream_to_table(
        twins.twin_dedup_incremental(sdf, existing_hashes, existing_index),
        "t_incr",
        ckpt,
    ).collect()

    got: dict[int, dict] = {}
    for r in out:
        g = got.setdefault(
            r["doc_id"], {"exact": False, "near": set()}
        )
        if r["match_type"] == "exact":
            g["exact"] = True
        else:
            g["near"].add(r["doc_ex"])
            assert r["jaccard"] >= 0.95
    batch = llm_dedup_incremental(spark, sf_dir).collect()
    assert len(batch) > 0
    some_near = False
    for b in batch:
        g = got.get(b["doc_id"], {"exact": False, "near": set()})
        assert g["exact"] == bool(b["is_exact_dup"]), b["doc_id"]
        assert len(g["near"]) == b["n_near"], b["doc_id"]
        if b["n_near"] > 0:
            some_near = True
            assert min(g["near"]) == b["best_near"]
    assert some_near, "fixture must exercise the near path"


def test_twin_soft_sample_equals_batch(spark, sf_dir, docs_stream_src, ckpt):
    """The stateless streaming projection reproduces the batch
    quality-weighted sampling decision table exactly."""
    from scala_reactivex_spark.operators.llm_pipeline import llm_soft_sample

    sdf = twins.docs_stream(spark, docs_stream_src)
    out = twins.run_stream_to_table(
        twins.twin_soft_sample(sdf), "t_soft", ckpt
    )
    got = {
        (r["doc_id"], r["quality"], r["u16"], r["keep"])
        for r in out.collect()
    }
    want = {
        (r["doc_id"], r["quality"], r["u16"], r["keep"])
        for r in llm_soft_sample(spark, sf_dir).collect()
    }
    assert got == want


def test_twin_count_min_equals_batch_cells(
    spark, sf_dir, docs_stream_src, ckpt
):
    """The streamed sketch must converge to the batch sketch exactly —
    cell-for-cell (CM cells are mergeable sums, so any micro-batch
    slicing yields the same final state)."""
    from scala_reactivex_spark.functions.portable_hash import (
        P31,
        kr31_spark_expr,
    )
    from scala_reactivex_spark.operators.llm_signals import (
        CM_WIDTH,
        _cm_seeds,
    )

    sdf = twins.docs_stream(spark, docs_stream_src)
    out = twins.run_stream_to_table(
        twins.twin_count_min(sdf), "t_cm", ckpt, output_mode="complete"
    )
    got = {(r["d"], r["bucket"]): r["c"] for r in out.collect()}
    bucket_structs = ", ".join(
        f"struct({d} AS d, (({a}L * h + {b}L) % {P31}) % {CM_WIDTH}"
        " AS bucket)"
        for d, (a, b) in enumerate(_cm_seeds())
    )
    batch = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .selectExpr("explode(split(text, ' ')) AS token")
        .selectExpr(f"{kr31_spark_expr('token')} AS h")
        .selectExpr(f"explode(array({bucket_structs})) AS s")
        .groupBy("s.d", "s.bucket")
        .count()
    )
    want = {(r["d"], r["bucket"]): r["count"] for r in batch.collect()}
    assert got == want and len(want) > 0


def test_twin_watermark_detect_equals_batch(
    spark, sf_dir, docs_stream_src, ckpt
):
    """The stateless streaming watermark screen reproduces the batch
    decision table exactly."""
    from scala_reactivex_spark.operators.llm_signals import (
        llm_watermark_detect,
    )

    sdf = twins.docs_stream(spark, docs_stream_src)
    out = twins.run_stream_to_table(
        twins.twin_watermark_detect(sdf), "t_wm", ckpt
    )
    key = lambda r: (  # noqa: E731
        r["doc_id"], r["n_tok"], r["n_green"], r["z_1e4"], r["flagged"]
    )
    assert {key(r) for r in out.collect()} == {
        key(r) for r in llm_watermark_detect(spark, sf_dir).collect()
    }


def test_twin_dsir_equals_batch(spark, sf_dir, docs_stream_src, ckpt):
    """Per-row streaming DSIR scoring against the broadcast model map
    equals the batch decision table exactly, with zero OOV misses (the
    model was trained on the same corpus)."""
    from scala_reactivex_spark.operators.llm_pipeline import (
        dsir_delta,
        dsir_feats,
        llm_dsir,
    )

    delta = dsir_delta(dsir_feats(spark, sf_dir))
    sdf = twins.docs_stream(spark, docs_stream_src)
    out = twins.run_stream_to_table(
        twins.twin_dsir(sdf, delta), "t_dsir", ckpt
    ).collect()
    assert all(r["n_miss"] == 0 for r in out)
    got = {
        (r["doc_id"], r["n_feat"], r["dsir_1e6"], r["keep"]) for r in out
    }
    want = {
        (r["doc_id"], r["n_feat"], r["dsir_1e6"], r["keep"])
        for r in llm_dsir(spark, sf_dir).collect()
    }
    assert got == want


def test_twin_budget_gate_equals_batch_up_to_order(
    spark, sf_dir, docs_stream_src, ckpt
):
    """The streaming gate must match the batch selection exactly on the
    deterministic band/out slices; on the straddling band (admission
    order differs: arrival vs content hash) it must spend the SAME
    remainder — within one maximal doc — and never overshoot."""
    from scala_reactivex_spark.operators.llm_compose import llm_budget_select

    # The batch-side band plan (gate frame) — shared builder.
    gate = twins.budget_gate_plan(spark, sf_dir)

    sdf = twins.docs_stream(spark, docs_stream_src)
    out = twins.run_stream_to_table(
        twins.twin_budget_gate(sdf, gate), "t_gate", ckpt
    ).collect()
    batch = llm_budget_select(spark, sf_dir).collect()
    got = {r["doc_id"]: r for r in out}
    assert len(got) == len(batch)
    rem = None
    stream_marginal_kept = 0
    batch_marginal_kept = 0
    max_marginal_doc = 0
    g = {r["band"]: r for r in gate.collect()}
    for b in batch:
        s = got[b["doc_id"]]
        assert s["band"] == b["band"] and s["n_tok"] == b["n_tok"]
        if b["reason"] in ("band", "out") and s["reason"] != "marginal":
            assert (s["keep"], s["reason"]) == (b["keep"], b["reason"])
        if s["reason"] == "marginal":
            rem = g[s["band"]]["b"] - g[s["band"]]["above"]
            stream_marginal_kept += s["n_tok"] * s["keep"]
            max_marginal_doc = max(max_marginal_doc, s["n_tok"])
        if b["reason"] == "marginal":
            batch_marginal_kept += b["n_tok"] * b["keep"]
    if rem is not None:
        assert stream_marginal_kept <= rem
        assert stream_marginal_kept > rem - max_marginal_doc
        assert batch_marginal_kept <= rem


def test_twin_lang_id_equals_batch(spark, sf_dir, docs_stream_src, ckpt):
    """Per-row streaming classification against the broadcast profile
    maps equals the batch language-ID table exactly (same scores, same
    argmax tie order)."""
    from scala_reactivex_spark.operators.llm_text import (
        lang_id_model,
        llm_lang_id,
    )

    profile, floors = lang_id_model(spark, sf_dir)
    sdf = twins.docs_stream(spark, docs_stream_src)
    out = twins.run_stream_to_table(
        twins.twin_lang_id(sdf, profile, floors), "t_lid", ckpt
    )
    key = lambda r: (  # noqa: E731
        r["doc_id"], r["lang_true"], r["lang_pred"],
        r["best_score_1e6"], r["correct"],
    )
    assert {key(r) for r in out.collect()} == {
        key(r) for r in llm_lang_id(spark, sf_dir).collect()
    }


def test_twin_hll_equals_batch_registers(
    spark, sf_dir, docs_stream_src, ckpt
):
    """The streamed register maxima equal the batch sketch exactly for
    every touched register (max is associative — any micro-batch
    slicing converges to the same state)."""
    import pyspark.sql.functions as F

    from scala_reactivex_spark.functions.portable_hash import (
        kr31_spark_expr,
    )
    from scala_reactivex_spark.operators.llm_signals import HLL_M

    sdf = twins.docs_stream(spark, docs_stream_src)
    out = twins.run_stream_to_table(
        twins.twin_hll(sdf), "t_hll", ckpt, output_mode="complete"
    )
    got = {(r["reg"], r["mr"]) for r in out.collect()}
    want = {
        (r["reg"], r["mr"])
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .selectExpr(f"{kr31_spark_expr('text')} AS hv")
        .distinct()
        .select(
            (F.col("hv") % HLL_M).alias("reg"),
            F.expr(
                f"CASE WHEN hv DIV {HLL_M} = 0 THEN 26"
                f" ELSE 26 - length(bin(hv DIV {HLL_M})) END"
            ).alias("rho"),
        )
        .groupBy("reg")
        .agg(F.max("rho").alias("mr"))
        .collect()
    }
    assert got == want and len(want) > 0


def test_twin_salt_dispatch_equals_batch(spark, sf_dir, stream_src, ckpt):
    """The live skew monitor's standing per-key counts + derived view
    equal the graded op_salt_dispatch_stats row exactly — counts merge
    associatively across micro-batches, and the view IS the batch
    derivation (operators/salted.dispatch_summary)."""
    from scala_reactivex_spark.operators.salted import (
        op_salt_dispatch_stats,
    )

    sdf = twins.events_stream(spark, stream_src)
    counts = twins.run_stream_to_table(
        twins.twin_salt_dispatch(sdf),
        "t_salt_dispatch",
        ckpt,
        output_mode="complete",
    )
    got = [tuple(r) for r in twins.salt_dispatch_view(counts).collect()]
    want = [tuple(r) for r in op_salt_dispatch_stats(spark, sf_dir).collect()]
    assert got == want and len(got) == 1


def test_gate_broadcast_is_size_dispatched(spark, monkeypatch):
    """The dedup gate's static-side broadcast hint must apply below
    GATE_BROADCAST_MAX_ROWS and fall back to plain (sort-merge-able)
    frames above it — no forced broadcast of an oversized signature
    store (round-12 review)."""
    import pyspark.sql.functions as F

    small = spark.range(10).select(F.col("id").alias("k"))
    hinted = twins._broadcast_if_small(small)
    assert "UnresolvedHint broadcast" in (
        hinted._jdf.queryExecution().logical().toString()
    )

    monkeypatch.setattr(twins, "GATE_BROADCAST_MAX_ROWS", 5)
    plain = twins._broadcast_if_small(small)
    assert "UnresolvedHint" not in (
        plain._jdf.queryExecution().logical().toString()
    )


def test_gate_broadcast_is_byte_gated(spark, monkeypatch):
    """A frame UNDER the row cap but whose rows are fat (per-doc token
    arrays duplicated per band) must NOT be broadcast: the gate measures
    bytes via a sampled average-row-size estimate, so a row-cheap hash
    set and a row-fat band index dispatch independently (round-12
    ADVICE on GATE_BROADCAST_MAX_ROWS)."""
    import pyspark.sql.functions as F

    fat = spark.range(10).select(
        F.col("id").alias("k"),
        F.array_repeat(F.lit("tokentoken"), 50).alias("toks_ex"),
    )
    # ~10 fat rows: well under any row cap; shrink the byte budget so
    # the measured estimate trips it.
    monkeypatch.setattr(twins, "GATE_BROADCAST_MAX_BYTES", 100)
    plain = twins._broadcast_if_small(fat)
    assert "UnresolvedHint" not in (
        plain._jdf.queryExecution().logical().toString()
    )
    # Same rows inside the budget → hinted.
    monkeypatch.setattr(twins, "GATE_BROADCAST_MAX_BYTES", 1 << 30)
    hinted = twins._broadcast_if_small(fat)
    assert "UnresolvedHint broadcast" in (
        hinted._jdf.queryExecution().logical().toString()
    )
    # The estimate itself over-counts, never under-counts, a row of
    # known payload: 10 rows × ≥500 chars of tokens each.
    assert twins._estimated_bytes(fat, 10) >= 10 * 500


def test_twin_eval_affinity_equals_batch_selection(
    spark, sf_dir, embeddings_stream_src, ckpt
):
    """The streaming admission gate reproduces llm_eval_affinity's
    top-k membership EXACTLY (ties included, via the (dot, vec_id)
    lexicographic cutoff), and scores every arrival with the same
    integer dot product."""
    from scala_reactivex_spark.operators.llm_signals import (
        AFFINITY_K,
        llm_eval_affinity,
    )

    cvec, cutoff = twins.affinity_gate_params(spark, sf_dir)
    sdf = twins.embeddings_stream(spark, embeddings_stream_src)
    out = twins.run_stream_to_table(
        twins.twin_eval_affinity(sdf, cvec, cutoff), "t_affinity", ckpt
    )
    rows = out.collect()
    admitted = {
        (r["vec_id"], r["dot_1e12"]) for r in rows if r["admit"] == 1
    }
    want = {
        (r["vec_id"], r["dot_1e12"])
        for r in llm_eval_affinity(spark, sf_dir).collect()
    }
    assert admitted == want
    assert len(admitted) == AFFINITY_K
    # Every arriving vector was scored (gate is a projection, not a
    # filter — the serving tier decides routing downstream).
    from scala_reactivex_spark.sources.catalog import table

    assert len(rows) == table(spark, sf_dir, "embeddings").count()


def test_twin_nb_lang_equals_batch_confusion(
    spark, sf_dir, docs_stream_src, ckpt
):
    """The streaming NB classifier reproduces llm_nb_lang's argmax
    exactly: drained per-doc predictions over the eval split aggregate
    to the SAME confusion matrix the batch op emits (integer-pinned
    scores, same (score, cand) tie rule), and every arriving doc is
    scored — the serving twin is a projection, not a filter."""
    from scala_reactivex_spark.operators.llm_text import llm_nb_lang
    from scala_reactivex_spark.sources.catalog import table

    model = twins.nb_model_params(spark, sf_dir)
    sdf = twins.docs_stream(spark, docs_stream_src)
    out = twins.run_stream_to_table(
        twins.twin_nb_lang(sdf, model), "t_nb_lang", ckpt
    )
    rows = out.collect()
    assert len(rows) == table(spark, sf_dir, "documents").count()
    got = {}
    for r in rows:
        if r["doc_id"] % 5 == 0:
            key = (r["lang"], r["pred_lang"])
            got[key] = got.get(key, 0) + 1
    want = {
        (r["lang"], r["pred_lang"]): r["n_docs"]
        for r in llm_nb_lang(spark, sf_dir).collect()
    }
    assert got == want


def test_twin_nb_filter_equals_batch_gate(
    spark, sf_dir, docs_stream_src, ckpt
):
    """The streaming calibration-thresholded gate reproduces
    llm_nb_filter's decisions exactly on the eval split (same pinned
    scores, same banding DIV arithmetic, same broadcast threshold), it
    gates EVERY arriving doc (projection, not a filter), and the
    published threshold is the calibration-derived one.  Runs against
    the MATERIALIZED serving pack (nb_serving_pack — what the latency
    bench serves, r14 verdict #1), so the collect-and-rebuild
    round-trip of the nested map/struct model schema is itself under
    the law."""
    from scala_reactivex_spark.operators.llm_text import llm_nb_filter
    from scala_reactivex_spark.sources.catalog import table

    model, thr = twins.nb_serving_pack(spark, sf_dir)
    sdf = twins.docs_stream(spark, docs_stream_src)
    out = twins.run_stream_to_table(
        twins.twin_nb_filter(sdf, model, thr), "t_nb_filter", ckpt
    )
    rows = out.collect()
    assert len(rows) == table(spark, sf_dir, "documents").count()
    got = {
        r["doc_id"]: (r["pred_lang"], r["band"], r["thr_band"], r["kept"])
        for r in rows
        if r["doc_id"] % 5 == 0
    }
    want = {
        r["doc_id"]: (r["pred_lang"], r["band"], r["thr_band"], r["kept"])
        for r in llm_nb_filter(spark, sf_dir).collect()
    }
    assert got == want


def test_twin_compaction_route_matches_written_layout(
    spark, sf_dir, docs_stream_src, ckpt
):
    """The streaming ingest router lands every arriving doc in exactly
    the (shard, out_file) the executed compaction layout holds it in:
    drained routes equal the written layout's partition columns, all
    flagged planned (every fixture source is in the plan snapshot)."""
    from scala_reactivex_spark.operators.llm_pipeline import (
        _compacted_docs,
    )

    assign = twins.compaction_assign_pack(spark, sf_dir)
    out = twins.run_stream_to_table(
        twins.twin_compaction_route(
            twins.docs_stream(spark, docs_stream_src), assign
        ),
        "t_croute",
        ckpt,
    )
    got = {
        r["doc_id"]: (r["shard"], r["out_file"], r["planned"])
        for r in out.collect()
    }
    layout = spark.read.parquet(_compacted_docs(spark, sf_dir))
    want = {
        r["doc_id"]: (int(r["shard"]), int(r["out_file"]), 1)
        for r in layout.select("doc_id", "shard", "out_file").collect()
    }
    assert got == want


def test_twin_compaction_route_flags_unplanned_sources(spark, sf_dir):
    """An arriving doc from a source the plan snapshot has never seen
    must flag planned = 0 / out_file = -1 (queued for the next
    OPTIMIZE pass) — never alias into a planned file.  The route is a
    pure projection + broadcast join, so the law is checked on a batch
    frame (identical plan, no stream scaffolding)."""
    batch = spark.createDataFrame(
        [(999_999_001, "zz unseen text zz", "brand-new-source")],
        "doc_id bigint, text string, source string",
    )
    rows = twins.twin_compaction_route(
        batch, twins.compaction_assign_pack(spark, sf_dir)
    ).collect()
    assert len(rows) == 1
    assert rows[0]["planned"] == 0
    assert rows[0]["out_file"] == -1


def test_twin_quality_drift_counts_and_psi_match_batch(
    spark, sf_dir, docs_stream_src, ckpt
):
    """Drained per-band arrival counts over the corpus stream equal
    the batch band histogram, and the dashboard-side 10-row PSI
    reduction over the drained table (arrived-corpus vs the t0
    baseline, llm_quality_psi's exact smoothed formula) equals the
    same formula computed from batch counts."""
    import math

    from scala_reactivex_spark.operators.llm_text import (
        PSI_BANDS,
        llm_quality_psi,
    )

    baseline = twins.quality_baseline_pack(spark, sf_dir)
    out = twins.run_stream_to_table(
        twins.twin_quality_drift(twins.docs_stream(spark, docs_stream_src)),
        "t_qdrift",
        ckpt,
        output_mode="complete",
    )
    drained = {r["band"]: r for r in out.collect()}
    batch = {r["band"]: r for r in llm_quality_psi(spark, sf_dir).collect()}
    # bands with zero corpus docs never arrive — the drained table
    # holds exactly the populated bands
    populated = {
        b for b, r in batch.items() if r["n_old"] + r["n_new"] > 0
    }
    assert set(drained) == populated
    for b in populated:
        assert (
            drained[b]["n_arrived"]
            == batch[b]["n_old"] + batch[b]["n_new"]
        )
    # the baseline's n_old parity is asserted on the VIEW below (the
    # sink no longer carries baseline columns — r17, r16 verdict #3)

    def psi(rows, t_new):
        tot = 0.0
        for r in rows.values():
            po = (r["n_old"] + 1.0) / (r["t_old"] + PSI_BANDS)
            pn = (r["n_arrived"] + 1.0) / (t_new + PSI_BANDS)
            tot += (pn - po) * math.log(pn / po)
        return tot

    # The REQUIRED dashboard roll-up (quality_drift_view) emits ALL
    # PSI_BANDS bands — baseline-driven, zero-filled — and its summed
    # psi_contrib equals the smoothed formula over the full band set
    # (not just populated bands; ADVICE r15).
    view = {
        r["band"]: r
        for r in twins.quality_drift_view(out, baseline).collect()
    }
    assert set(view) == set(range(PSI_BANDS))
    for b in range(PSI_BANDS):
        assert view[b]["n_old"] == batch[b]["n_old"]
    t_new = sum(r["n_arrived"] for r in view.values())
    want_rows = {
        b: {
            "n_old": batch[b]["n_old"],
            "t_old": view[b]["t_old"],
            "n_arrived": batch[b]["n_old"] + batch[b]["n_new"],
        }
        for b in range(PSI_BANDS)
    }
    got_psi = sum(r["psi_contrib"] for r in view.values())
    assert abs(got_psi - psi(want_rows, t_new)) < 1e-12


def test_quality_drift_view_emits_empty_bands(spark, sf_dir, tmp_path):
    """A band that EMPTIES OUT in the live stream must still appear in
    the roll-up with its nonzero smoothed PSI contribution (ADVICE r15:
    the inner-join drained table alone drops it, silently understating
    PSI).  Stream only docs from a single band; the view must emit all
    PSI_BANDS rows, zero-filled, with the exact smoothed formula."""
    import math

    from scala_reactivex_spark.operators.llm_text import (
        PSI_BANDS,
        quality_col,
    )
    from scala_reactivex_spark.sources.catalog import table

    _, _, quality = quality_col()
    band = F.least(
        F.floor(quality * PSI_BANDS).cast("bigint"),
        F.lit(PSI_BANDS - 1).cast("bigint"),
    )
    docs = table(spark, sf_dir, "documents").withColumn("b", band)
    one_band = int(docs.agg(F.min("b")).collect()[0][0])
    src = str(tmp_path / "one_band_src")
    docs.where(F.col("b") == one_band).drop("b").coalesce(1).write.parquet(src)

    baseline = twins.quality_baseline_pack(spark, sf_dir)
    out = twins.run_stream_to_table(
        twins.twin_quality_drift(twins.docs_stream(spark, src)),
        "t_qdrift_empty",
        str(tmp_path / "ckpt"),
        output_mode="complete",
    )
    # The drained table holds ONLY the one arrived band...
    assert {r["band"] for r in out.collect()} == {one_band}
    # ...but the roll-up emits every band, zero-filled.
    view = {
        r["band"]: r
        for r in twins.quality_drift_view(out, baseline).collect()
    }
    assert set(view) == set(range(PSI_BANDS))
    t_new = view[one_band]["n_arrived"]
    assert t_new > 0
    for b, r in view.items():
        if b != one_band:
            assert r["n_arrived"] == 0
        po = (r["n_old"] + 1.0) / (r["t_old"] + PSI_BANDS)
        pn = (r["n_arrived"] + 1.0) / (t_new + PSI_BANDS)
        assert abs(r["psi_contrib"] - (pn - po) * math.log(pn / po)) < 1e-12


def test_twin_epoch_shuffle_matches_batch_assignment(
    spark, sf_dir, docs_stream_src, ckpt
):
    """The streaming shard router assigns every arriving doc to the
    same reader shard the batch epoch layout would: drained
    (doc_id → shard) equals the batch op's per-shard doc partition
    (reconstructed from the same salted hash), and the stream is a
    pure projection — every doc appears exactly once."""
    from scala_reactivex_spark.operators.llm_pipeline import (
        epoch_hash_col,
        epoch_shard_col,
    )
    from scala_reactivex_spark.sources.catalog import table

    sdf = twins.docs_stream(spark, docs_stream_src)
    out = twins.run_stream_to_table(
        twins.twin_epoch_shuffle(sdf), "t_epoch_shard", ckpt
    )
    got = {r["doc_id"]: r["shard"] for r in out.collect()}
    want_rows = (
        table(spark, sf_dir, "documents")
        .select("doc_id", epoch_hash_col().alias("h"))
        .select("doc_id", epoch_shard_col("h").alias("shard"))
        .collect()
    )
    want = {r["doc_id"]: r["shard"] for r in want_rows}
    assert got == want and len(got) == len(want_rows)


def test_twin_zorder_route_matches_batch_layout(spark, sf_dir, stream_src, ckpt):
    """The streaming ingest router places every arriving event in
    exactly the z-bucket the batch clustered rewrite put it in: drained
    (event_id → zbucket) equals the partition column of the
    _zordered_events copy, and the route is a pure projection — every
    event routes exactly once."""
    from scala_reactivex_spark.operators import creation

    bounds = creation.zorder_bounds(spark, sf_dir)
    sdf = twins.events_stream(spark, stream_src)
    out = twins.run_stream_to_table(
        twins.twin_zorder_route(sdf, bounds), "t_zroute", ckpt
    )
    got = {r["event_id"]: r["zbucket"] for r in out.collect()}
    layout = spark.read.parquet(creation._zordered_events(spark, sf_dir))
    want = {
        r["event_id"]: r["zbucket"]
        for r in layout.select("event_id", "zbucket").collect()
    }
    assert got == want


def test_twin_novelty_gate_equals_batch(
    spark, sf_dir, docs_stream_src, ckpt, tmp_path
):
    """Drained per-doc novelty over the corpus stream equals the batch
    signal exactly — the standing gram table carries every doc's own
    grams, so the stream-side probe reproduces the self-inclusive
    document frequencies the batch aggregate computes."""
    from scala_reactivex_spark.operators.llm_signals import (
        llm_ngram_novelty,
    )

    sdf = twins.docs_stream(spark, docs_stream_src)
    out = twins.twin_novelty_gate(
        sdf,
        spark,
        sf_dir,
        str(tmp_path / "novelty_out"),
        str(tmp_path / "novelty_ckpt"),
    )
    got = {
        r["doc_id"]: (r["n_grams"], r["n_novel"], r["novelty_1e4"])
        for r in out.collect()
    }
    want = {
        r["doc_id"]: (r["n_grams"], r["n_novel"], r["novelty_1e4"])
        for r in llm_ngram_novelty(spark, sf_dir).collect()
    }
    assert got == want


def test_twin_zorder_route_clamps_out_of_bounds_arrivals(spark, sf_dir):
    """A live stream inevitably delivers events beyond the layout's
    bounds snapshot (later days, new high user ids).  Those must CLAMP
    to edge coordinates and flag in_bounds = 0 — never alias through
    the interleave's low-8-bit reads onto an arbitrary interior bucket.
    The routing expressions are pure projections, so the law is checked
    on a batch frame (identical plan, no stream scaffolding)."""
    from scala_reactivex_spark.operators import creation

    bounds = creation.zorder_bounds(spark, sf_dir).collect()[0]
    u1, d1 = bounds["u1"], bounds["d1"]
    span_u = u1 - bounds["u0"] + 1
    rows = [
        # one full span beyond the max user id — pre-fix this aliased
        # back onto the u8 of bounds.u0's bucket
        (1, u1 + span_u, (d1 // 2) * 86400000),
        # far-future day
        (2, u1, (d1 + 10_000) * 86400000),
        # below-bounds user id (negative normalized coordinate)
        (3, bounds["u0"] - span_u, (d1 // 2) * 86400000),
        # JUST below the bounds (u0 - 1): integer DIV truncates toward
        # zero so this normalizes to raw 0 and passed the pre-r15
        # normalized-coordinate bounds check — in_bounds must come from
        # the raw columns (r14 ADVICE)
        (4, bounds["u0"] - 1, (d1 // 2) * 86400000),
        # same hole on the day axis
        (5, u1, (bounds["d0"] - 1) * 86400000),
    ]
    batch = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, ms bigint"
    )
    got = {
        r["event_id"]: r
        for r in twins.twin_zorder_route(
            batch, creation.zorder_bounds(spark, sf_dir)
        ).collect()
    }
    for eid, r in got.items():
        assert r["in_bounds"] == 0, eid
        assert 0 <= r["u8"] <= 255 and 0 <= r["d8"] <= 255, eid
        assert 0 <= r["zbucket"] < creation.Z_BUCKETS, eid
    assert got[1]["u8"] == 255
    assert got[2]["d8"] == 255
    assert got[3]["u8"] == 0
    # the just-below rows clamp to the edge coordinate AND flag
    assert got[4]["u8"] == 0
    assert got[5]["d8"] == 0


def test_novelty_over_counts_unseen_grams_as_novel(spark):
    """The serving gate's whole point: a gram ABSENT from the standing
    corpus table is maximally novel (df = 0), not silently dropped.  A
    fully-new document must score novelty 10000, and mixed docs count
    both unseen (df=0) and corpus-unique (df=1) grams."""
    from scala_reactivex_spark.operators.llm_signals import novelty_over

    g = spark.createDataFrame(
        [(1, "a b c"), (1, "x y z"), (2, "a b c"), (2, "q r s")],
        "doc_id bigint, gram string",
    )
    cnt = spark.createDataFrame(
        [("a b c", 5), ("q r s", 1)], "gram string, df bigint"
    )
    got = {r["doc_id"]: r for r in novelty_over(g, cnt).collect()}
    # doc 1: 'a b c' df=5 (not novel), 'x y z' unseen (novel) -> 1/2
    assert got[1]["n_grams"] == 2 and got[1]["n_novel"] == 1
    assert got[1]["novelty_1e4"] == 5000
    # doc 2: 'a b c' df=5, 'q r s' df=1 (corpus-unique, novel) -> 1/2
    assert got[2]["n_grams"] == 2 and got[2]["n_novel"] == 1
