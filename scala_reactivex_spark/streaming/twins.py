"""Structured Streaming twins of the batch operator surface (SURVEY.md §2.8).

The reference is a push-based reactive-streams library; its LIVE semantics
map onto Spark micro-batch streaming:

| Reference                          | Twin here                           |
|------------------------------------|-------------------------------------|
| arrival-order assumption [RS:1.x]  | watermark on event time             |
| window(time[, slide]) [RX:window]  | windowed streaming aggregate        |
| debounce-grouping [RX:debounce]    | session_window                      |
| scan / distinctUntilChanged /      | applyInPandasWithState (per-key     |
| debounce state [RX:scan]           | arbitrary state, Arrow-batched)     |
| combineLatest-family [RX:combinelatest] | stream-stream interval join    |
| subscribe / onNext [RS:2.x]        | writeStream sink (memory/foreachBatch) |
| backpressure request(n) [RS:3.x]   | maxFilesPerTrigger / trigger pacing |

Every twin takes the STREAMING events frame (from :func:`events_stream`)
and returns a streaming DataFrame, so the same expressions run against any
replayable source (files here; Kafka/rate in production).  State lives in
the per-executor state store — nothing on the driver — so the twins scale
with key cardinality exactly like the batch shuffles do.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from scala_reactivex_spark.functions.determinism import dsum
from scala_reactivex_spark.session import configure_session
from scala_reactivex_spark.streaming.sinks import (
    idempotent_parquet_sink,
    run_foreach_batch,
    serving_stream_conf,
)

DEBOUNCE_NS = 2 * 3_600 * 1_000_000_000


def events_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-source streaming read of events parquet with derived time cols.

    ``source_dir`` must contain only events parquet part files (the file
    source streams a directory).  ``maxFilesPerTrigger`` is the
    backpressure knob — the micro-batch analogue of ``request(n)``.

    The stream schema is sniffed from the parquet footers via a one-off
    batch read (file sources require a static schema), then ``ts`` is
    normalized to the engine's bigint-nanosecond contract exactly as in
    the batch catalog — so the twins' BIGINT state schemas hold across
    fixture generations (TIMESTAMP NANOS-as-long vs MICROS).
    """
    configure_session(spark)
    from scala_reactivex_spark.sources.catalog import _normalize_events

    batch_schema = spark.read.parquet(source_dir).schema
    sdf = (
        spark.readStream.schema(batch_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )
    return _normalize_events(sdf)


# --- windowed twins (watermark + native window expressions) ---


def twin_tumbling(sdf: DataFrame) -> DataFrame:
    """Streaming twin of op_window_tumbling [RX:window]."""
    return (
        sdf.withWatermark("tsm", "1 hour")
        .groupBy(F.window("tsm", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), dsum("value").alias("total_value"))
        .select(
            F.unix_millis("w.start").alias("bucket_ms"),
            "event_type",
            "n",
            "total_value",
        )
    )


def twin_sliding(sdf: DataFrame) -> DataFrame:
    """Streaming twin of op_window_sliding [RX:window width/slide]."""
    return (
        sdf.withWatermark("tsm", "1 hour")
        .groupBy(F.window("tsm", "2 days", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.unix_millis("w.start").alias("ws_ms"), "event_type", "n")
    )


def twin_session(sdf: DataFrame) -> DataFrame:
    """Streaming twin of op_window_session [RX:debounce grouping]."""
    return (
        sdf.withWatermark("tsm", "1 hour")
        .groupBy(F.session_window("tsm", "2 hours").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_millis("w.start").alias("session_start_ms"),
            "n_events",
        )
    )


# --- arbitrary-state twins (applyInPandasWithState) ---


def _scan_fn(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-user running sum [RX:scan]: state = (last_sum_micros,), emit
    every intermediate. Micro-batch rows are sorted by the (ts, event_id)
    total order before folding, so replays are deterministic.

    Accumulation is in integer MICRO-units (value × 10^6, the exact
    analogue of the batch operator's DECIMAL(38,6) sums): int64 addition
    is exact and order-independent, so the streaming twin matches the
    batch result at the full 4-dp contract — a float64 fold drifts at
    rounding-tie boundaries. Emission mirrors the batch side's
    ROUND(CAST(dec AS DOUBLE), 4): micros → nearest double → HALF_UP at
    4 dp via the shortest decimal repr (same path Spark's Round takes)."""
    import numpy as np

    (running,) = state.get if state.exists else (0,)
    running = int(running)
    for pdf in batches:
        pdf = pdf.sort_values(["ts", "event_id"])
        micros = (
            pdf["value"].to_numpy(dtype="float64") * 1e6
        ).round().astype("int64")
        sums = np.cumsum(micros) + running
        running = int(sums[-1]) if len(sums) else running
        yield pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "event_id": pdf["event_id"],
                "ms": pdf["ms"],
                "running_sum": [_round4(m / 1e6) for m in sums],
            }
        )
    state.update((running,))


def _round4(d: float) -> float:
    """Spark-equivalent ROUND(double, 4): HALF_UP over the shortest
    decimal representation (Java BigDecimal.valueOf ≡ Python repr)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(d)).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
    )


def twin_running_scan(sdf: DataFrame) -> DataFrame:
    return sdf.groupBy("user_id").applyInPandasWithState(
        _scan_fn,
        outputStructType="user_id BIGINT, event_id BIGINT, ms BIGINT, "
        "running_sum DOUBLE",
        stateStructType="running BIGINT",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _duc_fn(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """distinctUntilChanged [RX:distinct]: state = last event_type."""
    (last,) = state.get if state.exists else (None,)
    for pdf in batches:
        pdf = pdf.sort_values(["ts", "event_id"])
        keep_rows = []
        for _, row in pdf.iterrows():
            if row["event_type"] != last:
                keep_rows.append(row)
                last = row["event_type"]
        if keep_rows:
            out = pd.DataFrame(keep_rows)
            yield out[["user_id", "event_id", "ms", "event_type"]]
    state.update((last,))


def twin_distinct_until_changed(sdf: DataFrame) -> DataFrame:
    return sdf.groupBy("user_id").applyInPandasWithState(
        _duc_fn,
        outputStructType="user_id BIGINT, event_id BIGINT, ms BIGINT, "
        "event_type STRING",
        stateStructType="last_type STRING",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _debounce_fn(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """debounce [RX:debounce]: state = the pending (held-back) event; a new
    arrival flushes the pending one iff the quiet gap was >= 2h.  (The final
    pending event per key flushes on stream end via timeout in a production
    setup; this twin keeps NoTimeout for replay determinism.)"""
    pending = state.get if state.exists else None
    for pdf in batches:
        pdf = pdf.sort_values(["ts", "event_id"])
        out = []
        for _, row in pdf.iterrows():
            cur = (
                int(row["user_id"]),
                int(row["event_id"]),
                int(row["ts"]),
                int(row["ms"]),
            )
            if pending is not None and cur[2] - pending[2] >= DEBOUNCE_NS:
                out.append(pending)
            pending = cur
        if out:
            yield pd.DataFrame(
                out, columns=["user_id", "event_id", "ts", "ms"]
            )[["user_id", "event_id", "ms"]]
    if pending is not None:
        state.update(pending)


def twin_debounce(sdf: DataFrame) -> DataFrame:
    return sdf.groupBy("user_id").applyInPandasWithState(
        _debounce_fn,
        outputStructType="user_id BIGINT, event_id BIGINT, ms BIGINT",
        stateStructType="user_id BIGINT, event_id BIGINT, ts BIGINT, "
        "ms BIGINT",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- multi-stream twin (stream-stream join with watermarks) ---


def twin_interval_join(sdf: DataFrame) -> DataFrame:
    """Stream-stream twin of the combineLatest family: each purchase joined
    to clicks of the same user within the preceding day — watermarked on
    both sides so join state is bounded [RX:combinelatest]."""
    purchases = (
        sdf.where("event_type = 'purchase'")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("p_event_id"),
            F.col("tsm").alias("p_tsm"),
        )
        .withWatermark("p_tsm", "1 hour")
    )
    clicks = (
        sdf.where("event_type = 'click'")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("c_event_id"),
            F.col("tsm").alias("c_tsm"),
        )
        .withWatermark("c_tsm", "1 hour")
    )
    return purchases.join(
        clicks,
        F.expr(
            """
            p_user = c_user AND
            c_tsm BETWEEN p_tsm - INTERVAL 1 DAY AND p_tsm
            """
        ),
    ).select("p_user", "p_event_id", "c_event_id")


# --- LLM-pipeline twin: streaming sequence packing ---

DOCS_DDL = (
    "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
)


def docs_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-source streaming read of the documents table (one file per
    micro-batch — the arrival-order knob for the packing twin)."""
    configure_session(spark)
    return (
        spark.readStream.schema(DOCS_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )


EMBED_DDL = "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"


def embeddings_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-source streaming read of the embeddings table."""
    configure_session(spark)
    return (
        spark.readStream.schema(EMBED_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )


def twin_kmeans(sdf: DataFrame, centroids: DataFrame) -> DataFrame:
    """Streaming k-means scoring [T3 — live twin of llm_kmeans's final
    assignment]: classify arriving vectors against BATCH-trained
    centroids — the model-serving shape (stream scoring against broadcast
    state). The (cluster_id, pos, c) centroid frame packs into ONE static
    row of array<struct<cluster_id, cvec>>; the stream cross-joins that
    broadcast row and picks argmin squared-L2 per arriving vector with
    array higher-order functions — completely STATELESS per row: append
    mode, no watermark, no streaming shuffle, so throughput scales with
    source parallelism alone. Same 1e6 integer pinning as the batch op,
    ties to the lowest cluster id via struct array_sort."""
    packed = (
        centroids.groupBy("cluster_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select(
            "cluster_id",
            F.transform("pc", lambda x: x["c"]).alias("cvec"),
        )
        .agg(F.collect_list(F.struct("cluster_id", "cvec")).alias("cents"))
    )
    pinned = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * 1_000_000 + F.lit(0.5)).cast(
            "bigint"
        ),
    )
    d2 = lambda cvec: F.aggregate(  # noqa: E731 — reads best inline
        F.zip_with("vvec", cvec, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    scored = F.array_sort(
        F.transform(
            "cents",
            lambda c: F.struct(
                d2(c["cvec"]).alias("d2"),
                c["cluster_id"].alias("cluster_id"),
            ),
        )
    )
    return (
        sdf.select("vec_id", pinned.alias("vvec"))
        .crossJoin(F.broadcast(packed))
        .select("vec_id", scored[0].alias("best"))
        .select(
            "vec_id",
            F.col("best.cluster_id").alias("cluster_id"),
            F.col("best.d2").cast("bigint").alias("dist2"),
        )
    )


def twin_decontaminate_bloom(sdf: DataFrame, bloom: DataFrame) -> DataFrame:
    """Streaming Bloom probe [T3 — live twin of llm_decontaminate_bloom's
    flagging stage]: arriving train documents explode to n-grams and test
    their portable-hash Bloom positions against the BATCH-built position
    set, packed into one broadcast MAP for O(1) membership — the
    stream-side of the decontamination cascade (flagged grams go on to
    the exact check / quarantine). Explode + column math only: stateless
    append, no watermark, no streaming shuffle."""
    from scala_reactivex_spark.functions.portable_hash import (
        P31,
        affine_seeds,
        kr31_spark_expr,
    )
    from scala_reactivex_spark.operators.llm_pipeline import (
        BLOOM_K,
        BLOOM_M,
        DECON_W,
    )

    packed = bloom.agg(F.collect_list("pos").alias("ps")).select(
        F.expr("map_from_arrays(ps, array_repeat(true, size(ps)))").alias(
            "bits"
        )
    )
    grams = sdf.select(
        "doc_id", F.split("text", " ").alias("words")
    ).where(F.size("words") >= DECON_W).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("words") - (DECON_W - 1)),
                lambda i: F.concat_ws(
                    " ", F.slice(F.col("words"), i, DECON_W)
                ),
            )
        ).alias("gram_idx", "s"),
    ).withColumn("h", F.expr(kr31_spark_expr("s")))
    positions = F.array(
        *[
            ((F.lit(a) * F.col("h") + F.lit(b)) % P31) % BLOOM_M
            for a, b in affine_seeds(BLOOM_K)
        ]
    )
    return (
        grams.crossJoin(F.broadcast(packed))
        .withColumn("pos_arr", positions)
        .where(
            F.forall(
                F.col("pos_arr"),
                lambda p: F.coalesce(
                    F.element_at(F.col("bits"), p), F.lit(False)
                ),
            )
        )
        .select("doc_id", "gram_idx", "s")
    )


def twin_contamination_gate(sdf: DataFrame, bloom: DataFrame) -> DataFrame:
    """Per-document contamination ingest GATE [live twin of
    llm_decontaminate_bloom's per-doc rollup]: each arriving document is
    admitted or quarantined in ONE row-local decision — its n-grams,
    their Karp-Rabin hashes, the K Bloom positions and the membership
    test all run as higher-order array functions over the words array,
    so there is NO explode, NO streaming shuffle and NO state: pure
    append mode, the same shape as twin_kanon_gate (privacy) and the
    dedup gate — completing the three-gate ingest screen.  Emits
    (doc_id, n_grams, n_flagged, quarantine); n_flagged counts gram
    OCCURRENCES whose K positions are all set, identical to the batch
    op's n_bloom_hits."""
    from scala_reactivex_spark.functions.portable_hash import (
        KR_BASE,
        P31,
        affine_seeds,
    )
    from scala_reactivex_spark.operators.llm_pipeline import (
        BLOOM_K,
        BLOOM_M,
        DECON_W,
    )

    packed = bloom.agg(F.collect_list("pos").alias("ps")).select(
        F.expr("map_from_arrays(ps, array_repeat(true, size(ps)))").alias(
            "bits"
        )
    )

    def kr31(g):  # Karp-Rabin fold of a lambda-var gram string
        return F.aggregate(
            F.sequence(F.lit(1), F.length(g)),
            F.lit(0).cast("long"),
            lambda acc, i: (acc * KR_BASE + F.ascii(g.substr(i, F.lit(1))))
            % P31,
        )

    def all_set(h):  # every affine Bloom position of hash h is in the map
        cond = F.lit(True)
        for a, b in affine_seeds(BLOOM_K):
            pos = ((F.lit(a) * h + F.lit(b)) % P31) % BLOOM_M
            cond = cond & F.coalesce(
                F.element_at(F.col("bits"), pos), F.lit(False)
            )
        return cond

    words = F.split("text", " ")
    grams = F.when(
        F.size(words) >= DECON_W,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (DECON_W - 1)),
            lambda i: F.concat_ws(" ", F.slice(words, i, DECON_W)),
        ),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))
    return (
        sdf.select("doc_id", grams.alias("grams"))
        .crossJoin(F.broadcast(packed))
        .select(
            "doc_id",
            F.size("grams").cast("bigint").alias("n_grams"),
            F.size(
                F.filter(
                    F.transform(F.col("grams"), kr31), all_set
                )
            )
            .cast("bigint")
            .alias("n_flagged"),
        )
        .withColumn(
            "quarantine", (F.col("n_flagged") > 0).cast("int")
        )
    )


def _pack_fn(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Streaming sequence packing: state = (tokens emitted so far,) per
    lang; pack_id = tokens-before-me // budget, identical to the batch
    windowed cumsum (llm_pack_sequences). Docs sort by doc_id inside the
    micro-batch; ACROSS batches correctness relies on the source feeding
    doc_id-ordered chunks (a file per range — the streaming contract the
    equivalence test sets up). Integer state: exact, replay-safe."""
    from scala_reactivex_spark.operators.llm_pipeline import CONTEXT_TOKENS

    budget = CONTEXT_TOKENS
    (cum,) = state.get if state.exists else (0,)
    cum = int(cum)
    for pdf in batches:
        pdf = pdf.sort_values("doc_id")
        n_tok = (
            pdf["text"].str.split(" ").str.len().astype("int64")
        )
        before = n_tok.cumsum().shift(fill_value=0) + cum
        cum += int(n_tok.sum())
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "lang": pdf["lang"],
                "n_tok": n_tok,
                "pack_id": (before // budget).astype("int64"),
            }
        )
    state.update((cum,))


def twin_dedup_exact(sdf: DataFrame) -> DataFrame:
    """Streaming twin of llm_dedup_exact's keep-side [T3 dedup family]:
    ``dropDuplicates`` on the content hash — the first-arriving document
    per md5(text) survives; under the doc_id-ordered arrival contract of
    the docs file source (same contract as twin_pack_sequences) that is
    exactly the batch ``keep_id = min(doc_id)``.

    State is one row per distinct hash — bounded by unique content, not
    stream length.  At 100 TB with an event-time column, swap in
    ``dropDuplicatesWithinWatermark`` so state is additionally bounded by
    the lateness horizon instead of growing with corpus-lifetime distinct
    hashes."""
    return sdf.select(
        F.md5(F.col("text").cast("binary")).alias("text_hash"), "doc_id"
    ).dropDuplicates(["text_hash"])


def twin_corpus_filter(
    sdf: DataFrame, quality: DataFrame, lang: DataFrame
) -> DataFrame:
    """Streaming keep/drop decision via STREAM-STATIC join [T3 compose —
    twin of llm_corpus_filter's keep side]: the document stream dedups
    on content hash in-stream (first arrival survives, the
    twin_dedup_exact contract), then joins BATCH-computed quality and
    language frames — the standard pattern for enriching a stream with
    offline-computed per-key state: the static side is planned as an
    ordinary batch relation each micro-batch, no streaming shuffle, no
    watermark needed on it.

    Emits one row per canonical (first-arrival) document with its
    quality/lang verdicts and the keep flag; duplicate arrivals are
    dropped by the stateful dedup, matching the batch operator's
    is_dup=false slice under doc_id-ordered arrival."""
    from scala_reactivex_spark.operators.llm_compose import QUALITY_KEEP

    hashed = sdf.select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("text_hash")
    )
    canonical = hashed.dropDuplicates(["text_hash"])
    return (
        canonical.join(quality.select("doc_id", "quality"), "doc_id")
        .join(lang.select("doc_id", "lang_pred"), "doc_id")
        .select(
            "doc_id",
            "lang_pred",
            "quality",
            (F.col("quality") >= QUALITY_KEEP).alias("keep"),
        )
    )


def twin_pack_sequences(sdf: DataFrame) -> DataFrame:
    return sdf.groupBy("lang").applyInPandasWithState(
        _pack_fn,
        outputStructType="doc_id BIGINT, lang STRING, n_tok BIGINT, "
        "pack_id BIGINT",
        stateStructType="cum BIGINT",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- runner (the 'subscribe' terminal) ---


def run_stream_to_table(
    stream_df: DataFrame,
    name: str,
    checkpoint_dir: str,
    output_mode: str = "append",
) -> DataFrame:
    """subscribe [RS:2.x]: drain the stream into an in-memory table with an
    availableNow trigger (process everything, then stop) and return the
    result as a batch DataFrame.

    Note the memory sink does not support recovery: re-running with the same
    checkpoint re-processes from scratch (cold-observable resubscription).
    Durable sinks (parquet/foreachBatch with idempotent writes) get
    exactly-once resume from the same checkpoint — that's the production
    path; this runner is the test/debug terminal."""
    checkpoint = os.path.join(checkpoint_dir, name)
    with serving_stream_conf(stream_df.sparkSession, checkpoint):
        query = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
    query.awaitTermination()
    return stream_df.sparkSession.table(name)


def _cdc_fn(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Latest-change-wins state [rel_cdc_upsert twin]: state = the key's
    current (ts, event_id, ms, value, n_changes); each micro-batch folds
    its rows in (ts, event_id) total order and emits the post-batch state
    (update-mode semantics).  O(1) state per key — the streaming MERGE."""
    user_id, event_type = key
    if state.exists:
        ts, event_id, ms, value, n_changes = state.get
    else:
        ts = event_id = ms = value = None
        n_changes = 0
    for pdf in batches:
        pdf = pdf.sort_values(["ts", "event_id"])
        n_changes += len(pdf)
        if len(pdf):
            last = pdf.iloc[-1]
            cand = (int(last["ts"]), int(last["event_id"]))
            if ts is None or cand > (ts, event_id):
                ts, event_id = cand
                ms, value = int(last["ms"]), float(last["value"])
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "event_type": [event_type],
                "n_changes": [n_changes],
                "event_id": [event_id],
                "ms": [ms],
                "value": [value],
            }
        )
    state.update((ts, event_id, ms, value, n_changes))


def twin_cdc_upsert(sdf: DataFrame) -> DataFrame:
    """Streaming twin of rel_cdc_upsert: per-key latest state, live."""
    return sdf.groupBy("user_id", "event_type").applyInPandasWithState(
        _cdc_fn,
        outputStructType="user_id BIGINT, event_type STRING, "
        "n_changes BIGINT, event_id BIGINT, ms BIGINT, value DOUBLE",
        stateStructType="ts BIGINT, event_id BIGINT, ms BIGINT, "
        "value DOUBLE, n_changes BIGINT",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _asof_fn(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """As-of join state [rel_join_asof twin]: state = the user's latest
    click (ts, event_id, ms); rows fold in the same (ts, kind, event_id)
    order as the batch operator's window frame, so a click at the exact
    purchase timestamp is visible to it.  Each purchase emits its match
    immediately — O(1) state, no buffering of the click history."""
    (user_id,) = key
    if state.exists:
        cts, cid, cms = state.get
    else:
        cts = cid = cms = None
    for pdf in batches:
        pdf = pdf.sort_values(["ts", "kind", "event_id"])
        out: list[tuple] = []
        for r in pdf.itertuples(index=False):
            if r.kind == 0:
                cand = (int(r.ts), int(r.event_id))
                if cts is None or cand > (cts, cid):
                    cts, cid = cand
                    cms = int(r.ms)
            else:
                out.append((int(r.event_id), user_id, int(r.ms), cid, cms))
        yield pd.DataFrame(
            out, columns=["p_event_id", "user_id", "p_ms", "c_event_id", "c_ms"]
        )
    state.update((cts, cid, cms))


def twin_asof_join(sdf: DataFrame) -> DataFrame:
    """Streaming twin of rel_join_asof: purchase ← latest click, live."""
    tagged = sdf.where(
        F.col("event_type").isin("click", "purchase")
    ).withColumn(
        "kind", F.when(F.col("event_type") == "click", 0).otherwise(1)
    )
    return tagged.groupBy("user_id").applyInPandasWithState(
        _asof_fn,
        outputStructType="p_event_id BIGINT, user_id BIGINT, p_ms BIGINT, "
        "c_event_id BIGINT, c_ms BIGINT",
        stateStructType="cts BIGINT, cid BIGINT, cms BIGINT",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

def _combine_latest_fn(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """combineLatest state [op_combine_latest twin, RX:combinelatest]:
    state = the key's latest value from each side; every arrival (in the
    batch operator's (ts, event_id) total order) updates its side and
    emits the pair once both sides have emitted — O(1) state per key,
    the signature Rx combinator run live."""
    (user_id,) = key
    if state.exists:
        la, lb = state.get
    else:
        la = lb = None
    for pdf in batches:
        pdf = pdf.sort_values(["ts", "event_id"])
        out: list[tuple] = []
        for r in pdf.itertuples(index=False):
            if r.kind == 0:
                la = float(r.value)
            else:
                lb = float(r.value)
            if la is not None and lb is not None:
                out.append((user_id, int(r.event_id), int(r.ms), la, lb))
        yield pd.DataFrame(
            out, columns=["user_id", "event_id", "ms", "la", "lb"]
        )
    state.update((la, lb))


def _tag_purchase_click(sdf: DataFrame) -> DataFrame:
    """purchase → side A (kind 0), click → side B (kind 1) — the same
    stream pairing the batch combinators use."""
    return sdf.where(
        F.col("event_type").isin("purchase", "click")
    ).withColumn(
        "kind", F.when(F.col("event_type") == "purchase", 0).otherwise(1)
    )


def twin_combine_latest(sdf: DataFrame) -> DataFrame:
    """Streaming twin of op_combine_latest: on every arrival from either
    stream, emit (latest purchase, latest click), live."""
    out = _tag_purchase_click(sdf).groupBy("user_id").applyInPandasWithState(
        _combine_latest_fn,
        outputStructType="user_id BIGINT, event_id BIGINT, ms BIGINT, "
        "la DOUBLE, lb DOUBLE",
        stateStructType="la DOUBLE, lb DOUBLE",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # Round in Spark (not Python) so the emitted values are bit-identical
    # to the batch operator's F.round output.
    return out.select(
        "user_id",
        "event_id",
        "ms",
        F.round("la", 4).alias("latest_purchase"),
        F.round("lb", 4).alias("latest_click"),
    )


def _with_latest_from_fn(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """withLatestFrom state [op_with_latest_from twin]: state = the key's
    latest click value; clicks update silently, each purchase emits
    (purchase value, latest click) if a click was seen — emit-on-A-only,
    the as-of pairing of the Rx combinator family."""
    (user_id,) = key
    if state.exists:
        (lb,) = state.get
    else:
        lb = None
    for pdf in batches:
        pdf = pdf.sort_values(["ts", "event_id"])
        out: list[tuple] = []
        for r in pdf.itertuples(index=False):
            if r.kind == 1:
                lb = float(r.value)
            elif lb is not None:
                out.append(
                    (user_id, int(r.event_id), int(r.ms), float(r.value), lb)
                )
        yield pd.DataFrame(
            out, columns=["user_id", "event_id", "ms", "a_val", "lb"]
        )
    state.update((lb,))


def twin_with_latest_from(sdf: DataFrame) -> DataFrame:
    """Streaming twin of op_with_latest_from: purchases emit with the
    latest click value at-or-before them, live."""
    out = _tag_purchase_click(sdf).groupBy("user_id").applyInPandasWithState(
        _with_latest_from_fn,
        outputStructType="user_id BIGINT, event_id BIGINT, ms BIGINT, "
        "a_val DOUBLE, lb DOUBLE",
        stateStructType="lb DOUBLE",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return out.select(
        "user_id",
        "event_id",
        "ms",
        F.round("a_val", 4).alias("purchase_value"),
        F.round("lb", 4).alias("latest_click"),
    )


def _zip_fn(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """zip state [op_zip twin, RX:zip]: state = the unmatched tail of
    whichever side is ahead (Rx zip buffers the faster stream) plus the
    next pair index.  Each arrival appends to its side's buffer; heads
    pair off FIFO and emit — at any instant at most ONE buffer is
    non-empty, so state is bounded by the streams' index skew."""
    (user_id,) = key
    if state.exists:
        rn, p_ids, p_ms, p_vals, c_ids, c_ms, c_vals = state.get
        p_buf = [list(p_ids or ()), list(p_ms or ()), list(p_vals or ())]
        c_buf = [list(c_ids or ()), list(c_ms or ()), list(c_vals or ())]
    else:
        rn = 0
        p_buf = [[], [], []]
        c_buf = [[], [], []]
    for pdf in batches:
        pdf = pdf.sort_values(["ts", "event_id"])
        out: list[tuple] = []
        for r in pdf.itertuples(index=False):
            buf = p_buf if r.kind == 0 else c_buf
            buf[0].append(int(r.event_id))
            buf[1].append(int(r.ms))
            buf[2].append(float(r.value))
            while p_buf[0] and c_buf[0]:
                rn += 1
                out.append(
                    (
                        user_id,
                        rn,
                        p_buf[0].pop(0),
                        c_buf[0].pop(0),
                        p_buf[1].pop(0),
                        c_buf[1].pop(0),
                        p_buf[2].pop(0) + c_buf[2].pop(0),
                    )
                )
        yield pd.DataFrame(
            out,
            columns=[
                "user_id",
                "rn",
                "p_event_id",
                "c_event_id",
                "p_ms",
                "c_ms",
                "pair_sum",
            ],
        )
    state.update(
        (rn, p_buf[0], p_buf[1], p_buf[2], c_buf[0], c_buf[1], c_buf[2])
    )


def twin_zip(sdf: DataFrame) -> DataFrame:
    """Streaming twin of op_zip: i-th purchase pairs with i-th click."""
    out = _tag_purchase_click(sdf).groupBy("user_id").applyInPandasWithState(
        _zip_fn,
        outputStructType="user_id BIGINT, rn BIGINT, p_event_id BIGINT, "
        "c_event_id BIGINT, p_ms BIGINT, c_ms BIGINT, pair_sum DOUBLE",
        stateStructType="rn BIGINT, p_ids ARRAY<BIGINT>, p_ms ARRAY<BIGINT>, "
        "p_vals ARRAY<DOUBLE>, c_ids ARRAY<BIGINT>, c_ms ARRAY<BIGINT>, "
        "c_vals ARRAY<DOUBLE>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return out.select(
        "user_id",
        "rn",
        "p_event_id",
        "c_event_id",
        "p_ms",
        "c_ms",
        F.round("pair_sum", 4).alias("pair_value"),
    )


def _take_until_fn(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """takeUntil state [op_take_until twin, RX:takeuntil]: state = whether
    the other stream (signup) has fired.  Rows fold in (ts, kind,
    event_id) order with signups FIRST at equal timestamps, so a purchase
    at the signup's exact timestamp is already cut off (the batch
    operator's strict ts < s_ts) — O(1) boolean state."""
    (user_id,) = key
    stopped = bool(state.get[0]) if state.exists else False
    for pdf in batches:
        pdf = pdf.sort_values(["ts", "kind", "event_id"])
        out: list[tuple] = []
        for r in pdf.itertuples(index=False):
            if r.kind == 0:
                stopped = True
            elif not stopped:
                out.append(
                    (user_id, int(r.event_id), int(r.ms), float(r.value))
                )
        yield pd.DataFrame(
            out, columns=["user_id", "event_id", "ms", "value"]
        )
    state.update((stopped,))


def twin_take_until(sdf: DataFrame) -> DataFrame:
    """Streaming twin of op_take_until: purchases pass until the user's
    first signup arrives, live."""
    tagged = sdf.where(
        F.col("event_type").isin("signup", "purchase")
    ).withColumn(
        "kind", F.when(F.col("event_type") == "signup", 0).otherwise(1)
    )
    out = tagged.groupBy("user_id").applyInPandasWithState(
        _take_until_fn,
        outputStructType="user_id BIGINT, event_id BIGINT, ms BIGINT, "
        "value DOUBLE",
        stateStructType="stopped BOOLEAN",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return out.select(
        "user_id", "event_id", "ms", F.round("value", 4).alias("value_r")
    )


def _amb_fn(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """amb state [op_amb twin, RX:amb]: state = the winning side, decided
    by the first arrival (purchases sort before clicks at equal ts —
    the batch tie rule p_ts <= c_ts).  Winner's events pass, loser's are
    dropped — O(1) state."""
    (user_id,) = key
    win = int(state.get[0]) if state.exists else -1
    for pdf in batches:
        pdf = pdf.sort_values(["ts", "kind", "event_id"])
        out: list[tuple] = []
        for r in pdf.itertuples(index=False):
            if win < 0:
                win = int(r.kind)
            if r.kind == win:
                out.append(
                    (
                        user_id,
                        "purchase" if r.kind == 0 else "click",
                        int(r.event_id),
                        int(r.ms),
                    )
                )
        yield pd.DataFrame(out, columns=["user_id", "src", "event_id", "ms"])
    state.update((win,))


def twin_amb(sdf: DataFrame) -> DataFrame:
    """Streaming twin of op_amb: the first stream to emit wins, live."""
    out = _tag_purchase_click(sdf).groupBy("user_id").applyInPandasWithState(
        _amb_fn,
        outputStructType="user_id BIGINT, src STRING, event_id BIGINT, "
        "ms BIGINT",
        stateStructType="win INT",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return out


def _switch_fn(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """switch state [op_switch twin, RX:switch]: state = the id of the
    latest outer trigger (signup); each inner element (click) emits owned
    by it, elements before any trigger are dropped — O(1) state."""
    (user_id,) = key
    owner = state.get[0] if state.exists else None
    for pdf in batches:
        pdf = pdf.sort_values(["ts", "event_id"])
        out: list[tuple] = []
        for r in pdf.itertuples(index=False):
            if r.kind == 0:
                owner = int(r.event_id)
            elif owner is not None:
                out.append((user_id, int(r.event_id), int(r.ms), owner))
        yield pd.DataFrame(
            out, columns=["user_id", "event_id", "ms", "owner_sig"]
        )
    state.update((owner,))


def twin_switch(sdf: DataFrame) -> DataFrame:
    """Streaming twin of op_switch: clicks follow the latest signup."""
    tagged = sdf.where(
        F.col("event_type").isin("signup", "click")
    ).withColumn(
        "kind", F.when(F.col("event_type") == "signup", 0).otherwise(1)
    )
    return tagged.groupBy("user_id").applyInPandasWithState(
        _switch_fn,
        outputStructType="user_id BIGINT, event_id BIGINT, ms BIGINT, "
        "owner_sig BIGINT",
        stateStructType="owner BIGINT",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def twin_topk_window(sdf: DataFrame) -> DataFrame:
    """Streaming twin of rel_topk_window [T3 live heavy hitters]: the
    per-(bucket, user) spend totals update continuously as a watermarked
    windowed aggregate (complete mode); the top-k is a rank VIEW over
    the live state — streaming cannot sort inside the micro-batch, so
    the ranking is applied to the materialized table, exactly like the
    reference's live top-k scan over its hot cells.  Restricted to
    purchases like the batch operator."""
    return (
        sdf.where(F.col("event_type") == "purchase")
        .withWatermark("tsm", "1 hour")
        .groupBy(F.window("tsm", "1 day").alias("w"), "user_id")
        .agg(dsum("value").alias("spend"), F.count("*").alias("n"))
        .select(
            F.unix_millis("w.start").alias("bucket_ms"),
            "user_id",
            "spend",
            "n",
        )
    )


def topk_view(materialized: DataFrame, k: int = 3) -> DataFrame:
    """Rank view over twin_topk_window's sink table — the live top-k."""
    from pyspark.sql import Window

    wb = Window.partitionBy("bucket_ms").orderBy(
        F.col("spend").desc(), "user_id"
    )
    return (
        materialized.withColumn("rnk", F.row_number().over(wb))
        .where(F.col("rnk") <= k)
        .select("bucket_ms", "user_id", "spend", "n", "rnk")
    )


def twin_bm25(sdf: DataFrame, contrib: DataFrame) -> DataFrame:
    """Streaming BM25 serving [T3 retrieval — live twin of llm_bm25's
    scoring stage]: probe queries ARRIVE (the test-split document
    stream), the index STANDS (the batch-built per-(term, doc)
    contribution frame from ``bm25_contrib`` — df/dl/idf damping all
    precomputed, so the static side is a plain relation each
    micro-batch).  Each arriving query projects to its leading distinct
    terms (``array_distinct`` — per-row, no stateful distinct), equi-joins
    the static index on the term key, and a streaming (q_id, doc_id)
    aggregate accumulates the score — run in complete mode, the live
    scoring table converges to the batch ``bm25_scored`` exactly (integer
    micro-unit contributions sum order-independently).  Top-k stays a
    rank view over the materialized table, as in twin_topk_window."""
    from scala_reactivex_spark.operators.llm_retrieval import (
        QUERY_W,
        _split_expr,
    )

    nib = F.expr(_split_expr("spark"))
    split = (
        F.when(nib.between("0", "b"), "train")
        .when(nib.isin("c", "d"), "val")
        .otherwise("test")
    )
    queries = (
        sdf.select(
            "doc_id",
            split.alias("split"),
            F.split("text", " ").alias("words"),
        )
        .where(F.col("split") == "test")
        .select(
            F.col("doc_id").alias("q_id"),
            F.explode(
                F.array_distinct(F.slice("words", 1, QUERY_W))
            ).alias("tok"),
        )
    )
    return (
        queries.join(contrib, "tok")
        .groupBy("q_id", "doc_id")
        .agg(F.sum("contrib").cast("bigint").alias("score_micro"))
    )


def twin_shard_assign(sdf: DataFrame) -> DataFrame:
    """Streaming shard routing [T3 layout — live twin of llm_shard_assign's
    assignment]: every arriving document routes to its output shard by
    content hash — a PURE stateless projection (append mode, no
    watermark, no shuffle), which is exactly why content-hash sharding is
    the right layout at 100 TB: the streaming writer's foreachBatch can
    ``partitionBy(shard)`` and land files deterministically no matter how
    micro-batches slice the corpus.  Grouping this twin's output by shard
    reproduces the batch operator's per-shard counts."""
    from scala_reactivex_spark.operators.llm_pipeline import N_SHARDS

    hexpos = (
        "instr('0123456789abcdef', substr(md5(cast(text as binary)), {}, 1))"
    )
    shard = F.expr(
        f"(({hexpos.format(1)} - 1) * 16 + {hexpos.format(2)} - 1)"
        f" % {N_SHARDS}"
    )
    return sdf.select("doc_id", shard.alias("shard"))


def twin_unigram_lm(sdf: DataFrame, freq: DataFrame) -> DataFrame:
    """Streaming LM scoring [T3 signals — live twin of llm_unigram_lm]:
    arriving documents are scored against the BATCH-trained corpus
    unigram model — the model-serving shape again (twin_kmeans for
    centroids, twin_bm25 for the retrieval index, here for a language
    model).  The (tok, logp micro-units) frame packs into one broadcast
    MAP; each arriving doc explodes to tokens, looks its terms up O(1),
    and a per-doc streaming aggregate sums the EXACT integer
    contributions — so the live scores converge to the batch operator's
    (order of arrival cannot drift an integer sum).  Tokens unseen at
    training time contribute NULL and drop out of count+sum, surfacing
    as n_scored < n_tok — the OOV signal a serving deployment monitors."""
    packed = freq.agg(
        F.map_from_arrays(
            F.collect_list("tok"), F.collect_list("lp")
        ).alias("lm")
    )
    toks = sdf.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    return (
        toks.crossJoin(F.broadcast(packed))
        .select(
            "doc_id",
            F.element_at(F.col("lm"), F.col("tok")).alias("lp"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tok"),
            F.count("lp").cast("bigint").alias("n_scored"),
            F.sum("lp").cast("bigint").alias("logp_sum_1e6"),
        )
    )


def unigram_lm_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(tok, lp) — the batch-trained unigram model in the exact integer
    micro-log10 units of llm_unigram_lm (shared pinning expression)."""
    from scala_reactivex_spark.sources.catalog import table as _table

    toks = _table(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count("*").alias("c"))
    total = freq.agg(
        F.sum("c").cast("bigint").cast("double").alias("t")
    )
    lp = F.floor(
        F.log10(F.col("c").cast("double") / F.col("t")) * 1000000 + 0.5
    ).cast("bigint")
    return freq.crossJoin(F.broadcast(total)).select("tok", lp.alias("lp"))


def twin_ppl_filter(
    sdf: DataFrame, freq: DataFrame, thresholds: DataFrame
) -> DataFrame:
    """Streaming perplexity-filter serving [T3 pipeline — live twin of
    llm_ppl_filter's keep decision]: the unigram LM (broadcast map, as
    twin_unigram_lm) and the trained [lo, hi] band thresholds (1-row
    static frame) both come from the BATCH corpus; arriving documents
    are scored, banded and flagged on the fly.  The thresholds attach
    BEFORE the aggregate (constant columns carried through ``max``), so
    the whole query is one stream-static pre-join + one complete-mode
    aggregate — no post-aggregation join, which streaming disallows.
    Exact integer contributions ⇒ the live decision table converges to
    the batch operator's."""
    from scala_reactivex_spark.operators.llm_pipeline import PPL_BAND_W

    packed = freq.agg(
        F.map_from_arrays(
            F.collect_list("tok"), F.collect_list("lp")
        ).alias("lm")
    )
    toks = sdf.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    scored = (
        toks.crossJoin(F.broadcast(packed))
        .crossJoin(F.broadcast(thresholds))
        .select(
            "doc_id",
            F.element_at(F.col("lm"), F.col("tok")).alias("lp"),
            "lo",
            "hi",
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tok"),
            (-F.sum("lp")).cast("bigint").alias("cost"),
            F.max("lo").alias("lo"),
            F.max("hi").alias("hi"),
        )
    )
    band = F.expr(f"CAST((cost DIV n_tok) DIV {PPL_BAND_W} AS BIGINT)")
    return scored.select(
        "doc_id",
        F.expr("CAST(cost DIV n_tok AS BIGINT)").alias("cost_per_tok"),
        band.alias("band"),
        (
            (band >= F.col("lo")) & (band <= F.col("hi"))
        )
        .cast("int")
        .alias("keep"),
    )


def ppl_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lo, hi) — the batch-trained keep-band range, recovered from the
    graded operator's own output (kept bands are exactly [lo, hi])."""
    from scala_reactivex_spark.operators.llm_pipeline import llm_ppl_filter

    return (
        llm_ppl_filter(spark, sf_dir)
        .where(F.col("keep") == 1)
        .agg(F.min("band").alias("lo"), F.max("band").alias("hi"))
    )


#: Static probe sides broadcast only below BOTH bounds.  The row cap
#: alone was wrong (round-12 ADVICE): the near-dup band index's rows
#: each carry the full per-doc token array duplicated once per LSH
#: band, so 2M ROWS of it is plausibly multiple GB — a forced
#: broadcast near the bound could OOM the driver, the exact failure
#: the dispatch exists to prevent.  The byte budget is measured, not
#: assumed: a sampled average serialized-row size × exact row count.
GATE_BROADCAST_MAX_ROWS = 2_000_000
GATE_BROADCAST_MAX_BYTES = 256 << 20  # 256 MiB — safe on an 8 GB driver
#: Rows sampled for the average-row-size estimate (one tiny job at
#: stream-definition time, like the count).
_GATE_SIZE_SAMPLE = 10_000


def _estimated_bytes(static: DataFrame, n_rows: int) -> float:
    """Estimated materialized size: JSON-serialized length averaged over
    a bounded sample × exact row count.  JSON over-counts vs Tungsten's
    binary rows (field names, quoting) — the conservative direction for
    an OOM guard."""
    if n_rows == 0:
        return 0.0
    avg = (
        static.limit(_GATE_SIZE_SAMPLE)
        .select(
            F.avg(
                F.length(F.to_json(F.struct(*static.columns)))
            ).alias("b")
        )
        .first()["b"]
    )
    return float(avg or 0.0) * n_rows


def _broadcast_if_small(static: DataFrame) -> DataFrame:
    """Size-dispatched broadcast hint for a stream-static join's static
    side — hint when it fits BY BYTES AND ROWS, graceful SMJ when it
    doesn't.  Byte-gating is per-frame, so a row-cheap hash set and a
    row-fat token-array band index dispatch independently (round-12
    ADVICE: a shared row cap let the fat side through)."""
    n = static.count()
    if (
        n <= GATE_BROADCAST_MAX_ROWS
        and _estimated_bytes(static, n) <= GATE_BROADCAST_MAX_BYTES
    ):
        return F.broadcast(static)
    return static


def twin_dedup_incremental(
    sdf: DataFrame, existing_hashes: DataFrame, existing_index: DataFrame
) -> DataFrame:
    """Streaming incremental-ingestion dedup [T3 — live twin of
    llm_dedup_incremental's match set]: arriving documents probe a
    BATCH-built index of the existing corpus — exactly what a production
    ingest does with yesterday's signature store.

    Two stream-static probes, both stateless per arrival:

    - exact: content-hash equi-join against the existing md5 set.
    - near: the arriving doc computes its own MinHash signature and LSH
      band buckets PER ROW (higher-order functions — no explode, no
      aggregation, no state), probes the capped static (band, bucket)
      index, and verifies candidates with exact per-row Jaccard via
      ``array_intersect`` sizes.  The char-level Karp-Rabin fold is
      HOISTED into one ``transform`` over the token array, so each
      token is hashed once and the 16 affine permutations min over the
      precomputed int64 hashes — the batch operator's hash-once
      structure (minhash_signatures hashes per exploded token, then 16
      min-aggs); the pre-hoist shape re-ran the per-char interpreted
      fold inside every seed's lambda, 16× the dominant per-trigger
      cost (round-16 serving audit).  A probe into
      a hot bucket finds nothing because the cap already removed that
      bucket from the static index — identical semantics to the batch
      operator, where BOTH sides of a hot bucket are dropped.

    Emits (doc_id, doc_ex, match_type, jaccard) append-mode match rows;
    the only stateful step is dropDuplicates on the candidate pair
    (bands can propose the same pair up to LSH_BANDS times)."""
    from scala_reactivex_spark.functions.portable_hash import (
        FOLD_BASE,
        P31,
        kr31_spark_expr,
    )
    from scala_reactivex_spark.operators.llm_dedup import (
        JACCARD_T,
        LSH_BANDS,
        MINHASH_K,
        MINHASH_SEEDS,
    )

    base = sdf.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("text_hash"),
        F.array_distinct(F.split("text", " ")).alias("toks"),
    )
    # Broadcast the static sides explicitly when they fit: micro-batch
    # plans don't get AQE's join-strategy rescue, so without the hint
    # each trigger re-shuffles the standing hash set / band index
    # through a sort-merge join (the round-12 warm probe measured the
    # gate 1.12x over its pin from exactly this).  The hint is
    # SIZE-DISPATCHED, not unconditional — a forced broadcast of a
    # signature store beyond memory would turn the old graceful SMJ
    # degradation into a build OOM (round-12 review); past the row
    # bound the plan falls back to SMJ, and the production posture at
    # that scale is a store BUCKETED on the join key so the probe
    # co-locates without either side shuffling (src_bucketed_join is
    # the graded pattern).  The count is one job at stream-definition
    # time against the (persisted) static frame.
    exact = base.join(
        _broadcast_if_small(existing_hashes), "text_hash"
    ).select(
        "doc_id",
        "doc_ex",
        F.lit("exact").alias("match_type"),
        F.lit(1.0).alias("jaccard"),
    )

    seed_structs = ", ".join(
        f"struct(CAST({a} AS BIGINT) AS a, CAST({b} AS BIGINT) AS b)"
        for a, b in MINHASH_SEEDS[:MINHASH_K]
    )
    kr = kr31_spark_expr("t")
    # Hash once per token into a standalone COLUMN (th), then permute:
    # bit-identical values to the per-seed inline fold at 1/16th the
    # interpreted per-char work.  th must be its own projection — an
    # inline sub-expression inside the outer seed lambda would be
    # re-evaluated per seed element (HOF lambdas get no CSE).
    sig = (
        f"transform(array({seed_structs}), "
        f"s -> array_min(transform(th, h -> (s.a * h + s.b)"
        f" % {P31})))"
    )
    rows_per_band = MINHASH_K // LSH_BANDS
    buckets = ", ".join(
        f"struct({band} AS band, "
        f"aggregate(slice(sig, {band * rows_per_band + 1}, {rows_per_band}),"
        f" CAST(0 AS BIGINT), (acc, v) -> (acc * {FOLD_BASE} + v) % {P31})"
        f" AS bucket)"
        for band in range(LSH_BANDS)
    )
    banded = (
        base.withColumn("th", F.expr(f"transform(toks, t -> {kr})"))
        .withColumn("sig", F.expr(sig))
        .select(
            "doc_id",
            "toks",
            F.explode(F.expr(f"array({buckets})")).alias("bb"),
        )
        .select("doc_id", "toks", "bb.band", "bb.bucket")
    )
    cand = banded.join(
        _broadcast_if_small(existing_index), ["band", "bucket"]
    ).dropDuplicates(["doc_id", "doc_ex"])
    isz = F.size(F.array_intersect("toks", "toks_ex"))
    jac = isz.cast("double") / (
        F.size("toks") + F.col("n_ex") - isz
    ).cast("double")
    near = (
        cand.withColumn("jac", jac)
        .where(F.col("jac") >= JACCARD_T)
        .select(
            "doc_id",
            "doc_ex",
            F.lit("near").alias("match_type"),
            F.round("jac", 4).alias("jaccard"),
        )
    )
    return exact.unionByName(near)


def twin_soft_sample(sdf: DataFrame) -> DataFrame:
    """Streaming quality-weighted sampling [T3 — live twin of
    llm_soft_sample]: the keep decision is a pure function of the
    arriving document's own text (row-local quality score vs a
    content-hash uniform), so the twin is a stateless append
    projection — no state, no watermark, no shuffle: the filter a
    100 TB ingest applies in-flight before anything lands."""
    from scala_reactivex_spark.operators.llm_pipeline import (
        SOFT_SAMPLE_RES,
    )
    from scala_reactivex_spark.operators.llm_text import quality_col

    hexpos = (
        "instr('0123456789abcdef', substr(md5(cast(text as binary)), {}, 1))"
    )
    u16 = F.expr(
        f"(({hexpos.format(3)} - 1) * 4096 + ({hexpos.format(4)} - 1) * 256"
        f" + ({hexpos.format(5)} - 1) * 16 + {hexpos.format(6)} - 1)"
    )
    _, _, quality = quality_col()
    return sdf.select(
        "doc_id",
        quality.alias("quality"),
        u16.cast("bigint").alias("u16"),
    ).select(
        "doc_id",
        "quality",
        "u16",
        (
            F.col("u16")
            < F.floor(
                F.col("quality") * SOFT_SAMPLE_RES + F.lit(0.5)
            ).cast("bigint")
        )
        .cast("int")
        .alias("keep"),
    )


def twin_count_min(sdf: DataFrame) -> DataFrame:
    """Streaming Count-Min sketch maintenance [T3 — live twin of
    llm_count_min's sketch build]: arriving documents explode to
    (row, bucket) cell increments and a streaming grouped count keeps
    the sketch current in complete mode.  CM cells are pure sums — the
    canonical MERGEABLE summary, which is exactly why a sketch is the
    structure you maintain ON the stream while exact per-key counts
    need unbounded state.  State here is 4×64 cells, constant forever.
    Round 15: builds through llm_signals.cm_cells, the SAME shared
    expression the batch audit uses — the bucket family cannot fork."""
    from scala_reactivex_spark.operators.llm_signals import cm_cells

    return cm_cells(
        sdf.select(F.explode(F.split("text", " ")).alias("token"))
    )


def twin_watermark_detect(sdf: DataFrame) -> DataFrame:
    """Streaming watermark screening [T3 — live twin of
    llm_watermark_detect]: the greenlist count computes PER ROW via an
    array filter with the char-level Karp-Rabin fold inside the lambda
    — no explode, no aggregation, no state — so generated-text
    screening runs as a stateless append projection at ingest time."""
    from scala_reactivex_spark.functions.portable_hash import (
        kr31_spark_expr,
    )
    from scala_reactivex_spark.operators.llm_signals import WM_Z_FLAG_1E4

    kr = kr31_spark_expr("t")
    n = F.size(F.split("text", " "))
    n_green = F.size(
        F.expr(f"filter(split(text, ' '), t -> ({kr}) % 2 = 0)")
    )
    base = sdf.select(
        "doc_id",
        n.cast("bigint").alias("n_tok"),
        n_green.cast("bigint").alias("n_green"),
    )
    z = F.floor(
        (2 * F.col("n_green") - F.col("n_tok")).cast("double")
        / F.sqrt(F.col("n_tok").cast("double"))
        * 10000
        + F.lit(0.5)
    ).cast("bigint")
    return base.select(
        "doc_id",
        "n_tok",
        "n_green",
        z.alias("z_1e4"),
        (z > WM_Z_FLAG_1E4).cast("int").alias("flagged"),
    )


def twin_dsir(sdf: DataFrame, delta: DataFrame) -> DataFrame:
    """Streaming DSIR data selection [T3 — live twin of llm_dsir]: the
    batch-trained 256-bucket importance model broadcasts as one MAP and
    each arriving document scores ITSELF per row — token hashes, bigram
    buckets, map lookups and the integer sum all run inside array HOFs,
    so selection is a stateless append projection (no explode, no
    aggregation, no state): the in-flight keep/drop gate of a 100 TB
    ingest.  Buckets unseen at training time would surface as
    n_miss > 0 — the drift signal a serving deployment monitors."""
    from scala_reactivex_spark.functions.portable_hash import (
        kr31_spark_expr,
    )
    from scala_reactivex_spark.operators.llm_pipeline import (
        DSIR_BUCKET_ARRAY_EXPR,
    )

    packed = delta.agg(
        F.map_from_arrays(
            F.collect_list("b"), F.collect_list("d")
        ).alias("dm")
    )
    base = sdf.select(
        "doc_id",
        F.expr(
            "IF(size(split(text, ' ')) < 2, array(), "
            "transform(split(text, ' '), t -> "
            + kr31_spark_expr("t")
            + "))"
        ).alias("h"),
    ).select(
        "doc_id",
        F.expr(
            f"IF(size(h) < 2, array(), {DSIR_BUCKET_ARRAY_EXPR})"
        ).alias("bks"),
    )
    return (
        base.crossJoin(F.broadcast(packed))
        .select(
            "doc_id",
            F.expr("CAST(size(bks) AS BIGINT)").alias("n_feat"),
            F.expr(
                "aggregate(bks, CAST(0 AS BIGINT), "
                "(acc, b) -> acc + coalesce(element_at(dm, b),"
                " CAST(0 AS BIGINT)))"
            ).alias("dsir_1e6"),
            F.expr(
                "CAST(size(filter(bks, "
                "b -> element_at(dm, b) IS NULL)) AS BIGINT)"
            ).alias("n_miss"),
        )
        .select(
            "doc_id",
            "n_feat",
            "dsir_1e6",
            "n_miss",
            (F.col("dsir_1e6") > 0).cast("int").alias("keep"),
        )
    )


def _budget_gate_fn(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Streaming budget admission: state = tokens already admitted from
    this (straddling) band; a doc passes iff the running total stays
    inside the band's remainder.  Prefix-greedy in arrival order —
    the same rule as the batch operator, with arrival replacing the
    content-hash order.  Integer state: exact, replay-safe."""
    (cum,) = state.get if state.exists else (0,)
    cum = int(cum)
    for pdf in batches:
        pdf = pdf.sort_values("doc_id")
        keeps = []
        for n, rem in zip(pdf["n_tok"], pdf["rem"]):
            admit = cum + int(n) <= int(rem)
            if admit:
                cum += int(n)
            keeps.append(int(admit))
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "band": pdf["band"],
                "n_tok": pdf["n_tok"],
                "keep": pd.Series(keeps, index=pdf.index, dtype="int32"),
                "reason": "marginal",
            }
        )
    state.update((cum,))


def budget_gate_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch-trained band plan the gate broadcasts: per quality band
    its total tokens (btok), the cumulative tokens of strictly better
    bands (above) and the corpus budget (b) — the same construction
    llm_budget_select grades, shared so every driver of the gate twin
    (equivalence test, crash-restart probe, any bench) trains the
    IDENTICAL plan."""
    from pyspark.sql import Window

    from scala_reactivex_spark.operators.llm_compose import BUDGET_DIV
    from scala_reactivex_spark.operators.llm_text import quality_col
    from scala_reactivex_spark.sources.catalog import table

    _, _, quality = quality_col()
    q = table(spark, sf_dir, "documents").select(
        F.floor(quality * 10000 + F.lit(0.5)).cast("bigint").alias("band"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
    )
    hist = q.groupBy("band").agg(F.sum("n_tok").alias("btok"))
    wdesc = Window.orderBy(F.col("band").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = hist.withColumn(
        "above", F.coalesce(F.sum("btok").over(wdesc), F.lit(0))
    )
    budget = q.agg(
        F.expr(f"CAST(sum(n_tok) DIV {BUDGET_DIV} AS BIGINT)").alias("b")
    )
    return cum.crossJoin(F.broadcast(budget))


def twin_budget_gate(sdf: DataFrame, gate: DataFrame) -> DataFrame:
    """Streaming token-budget gate [T3 — live twin of llm_budget_select]:
    the batch-trained band plan (per-band cumulative position + budget)
    broadcasts onto the stream; full-admit bands pass STATELESSLY, "
    "out-bands drop statelessly, and only the single straddling band "
    "routes through a per-band token counter "
    "(applyInPandasWithState) that admits prefix-greedily in arrival "
    "order until the remainder is spent — a rate limiter whose state "
    "is ONE integer.  The batch twin admits the same band/out sets; "
    "the marginal set differs only by admission order (arrival vs "
    "content hash), with the same budget bound — asserted in the "
    "equivalence test."""
    from scala_reactivex_spark.operators.llm_text import quality_col

    _, _, quality = quality_col()
    q = sdf.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
        F.floor(quality * 10000 + F.lit(0.5)).cast("bigint").alias("band"),
    ).join(F.broadcast(gate), "band")
    band_in = F.col("above") + F.col("btok") <= F.col("b")
    marginal = (~band_in) & (F.col("above") < F.col("b"))
    stateless = q.where(~marginal).select(
        "doc_id",
        "band",
        "n_tok",
        band_in.cast("int").alias("keep"),
        F.when(band_in, F.lit("band")).otherwise(F.lit("out")).alias(
            "reason"
        ),
    )
    gated = (
        q.where(marginal)
        .withColumn("rem", F.col("b") - F.col("above"))
        .select("doc_id", "band", "n_tok", "rem")
        .groupBy("band")
        .applyInPandasWithState(
            _budget_gate_fn,
            outputStructType=(
                "doc_id BIGINT, band BIGINT, n_tok BIGINT, "
                "keep INT, reason STRING"
            ),
            stateStructType="cum BIGINT",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return stateless.unionByName(gated)


def twin_lang_id(
    sdf: DataFrame, profile: DataFrame, floors: DataFrame
) -> DataFrame:
    """Streaming language-ID serving [T3 — live twin of llm_lang_id]:
    the batch-trained profiles pack into one broadcast MAP keyed
    'lang|token' (plus a per-lang floor MAP and the candidate list);
    each arriving document scores EVERY candidate language per row —
    the token loop, map lookups, floor fallback and integer sum all
    run inside array HOFs, and the argmax is an array_min over
    (-score, lang) structs, reproducing the batch (score DESC, lang) "
    "tie order.  Stateless append: classification at ingest time with "
    "zero state."""
    prof_packed = profile.agg(
        F.map_from_arrays(
            F.collect_list(F.concat_ws("|", "model_lang", "token")),
            F.collect_list("lp"),
        ).alias("pm")
    )
    floor_packed = floors.agg(
        F.map_from_arrays(
            F.collect_list("model_lang"), F.collect_list("fl")
        ).alias("fm"),
        F.sort_array(F.collect_list("model_lang")).alias("langs"),
    )
    scored = (
        sdf.select("doc_id", F.col("lang").alias("lang_true"), "text")
        .crossJoin(F.broadcast(prof_packed))
        .crossJoin(F.broadcast(floor_packed))
        .withColumn(
            "best",
            F.expr(
                "array_min(transform(langs, l -> struct("
                "-aggregate(split(lower(text), ' '), CAST(0 AS BIGINT), "
                "(acc, t) -> acc + coalesce("
                "element_at(pm, concat(l, '|', t)), element_at(fm, l)))"
                " AS ns, l AS lang)))"
            ),
        )
    )
    return scored.select(
        "doc_id",
        "lang_true",
        F.col("best.lang").alias("lang_pred"),
        (-F.col("best.ns")).cast("bigint").alias("best_score_1e6"),
        (F.col("lang_true") == F.col("best.lang")).alias("correct"),
    )


def twin_hll(sdf: DataFrame) -> DataFrame:
    """Streaming HyperLogLog maintenance [T3 — live twin of
    llm_hll_portable's register build]: arriving documents hash per
    row and a streaming grouped MAX keeps each register's rank
    current in complete mode — like twin_count_min, the state is the
    sketch itself (64 integers, constant forever), and register maxima
    merge associatively across micro-batches, executors and days —
    the distributed-cardinality workhorse."""
    from scala_reactivex_spark.functions.portable_hash import (
        kr31_pandas_udf,
    )
    from scala_reactivex_spark.operators.llm_signals import HLL_M

    return (
        sdf.select(kr31_pandas_udf()("text").alias("hv"))
        .select(
            (F.col("hv") % HLL_M).alias("reg"),
            F.expr(
                f"CASE WHEN hv DIV {HLL_M} = 0 THEN 26"
                f" ELSE 26 - length(bin(hv DIV {HLL_M})) END"
            ).alias("rho"),
        )
        .groupBy("reg")
        .agg(F.max("rho").alias("mr"))
    )


def quality_baseline_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drift monitor's standing baseline: the t0 snapshot's
    per-band quality counts (band, n_old, t_old — the llm_quality_psi
    doc_id-parity 'old' half), MATERIALIZED (plans/memo.
    materialize_scalar, 10 rows) and session-memoized so the streaming
    monitor serves a fixed artifact — the nb_serving_pack posture."""
    from scala_reactivex_spark.operators.llm_text import (
        PSI_BANDS,
        llm_quality_psi,
    )
    from scala_reactivex_spark.plans.memo import (
        materialize_scalar,
        session_memo,
    )

    def build() -> DataFrame:
        counts = llm_quality_psi(spark, sf_dir).select("band", "n_old")
        tot = counts.agg(F.sum("n_old").alias("t_old"))
        return materialize_scalar(
            spark, counts.crossJoin(F.broadcast(tot))
        )

    return session_memo(spark, sf_dir, "quality_baseline_pack", build)


def twin_quality_drift(sdf: DataFrame) -> DataFrame:
    """Streaming quality-drift monitor [T3 — live companion of
    llm_quality_psi, round 15]: arriving documents band their
    composite quality score (the SAME shared quality_col projection)
    and a complete-mode grouped count keeps each band's arrived total
    current — state is the 10-cell band histogram, constant forever
    (the twin_count_min sketch-on-stream posture).  Round-17 (r16
    verdict task #3 — worst twin in both regimes): the baseline no
    longer attaches inside the stream.  The old shape broadcast the
    10-row pack into EVERY micro-batch (a per-trigger broadcast build
    + join stage that measured ~1/3 of the drain: join+agg 4.0 s vs
    agg-only 2.7 s on the same 2-batch source), yet every (n_old,
    t_old) it attached was re-derivable from the SAME pack in the
    dashboard roll-up.  The sink now holds just (band, n_arrived) and
    :func:`quality_drift_view` (REQUIRED, not optional) attaches the
    baseline, zero-fills empty bands — the strongest drift signal,
    ADVICE r15 — and computes the exact smoothed PSI contributions;
    per-band normalization needs the arrived TOTAL, a cross-band
    quantity no single streaming aggregate can attach to its own rows,
    so the roll-up was always the consumer surface (empty-band case
    law-tested in tests/test_streaming.py)."""
    from scala_reactivex_spark.operators.llm_text import (
        PSI_BANDS,
        quality_col,
    )

    _, _, quality = quality_col()
    banded = sdf.select(
        F.least(
            F.floor(quality * PSI_BANDS).cast("bigint"),
            F.lit(PSI_BANDS - 1).cast("bigint"),
        ).alias("band")
    )
    return banded.groupBy("band").agg(
        F.count("*").cast("bigint").alias("n_arrived")
    )


def quality_drift_view(materialized: DataFrame, baseline: DataFrame) -> DataFrame:
    """Dashboard roll-up over twin_quality_drift's sink table — the
    BASELINE side drives band emission (ADVICE r15): the twin's inner
    join + grouped count cannot emit a row for a band with ZERO
    arrivals, yet an emptied-out band is the strongest drift signal
    and llm_quality_psi's add-one-smoothed formula assigns it a
    nonzero PSI contribution.  This view left-joins the drained counts
    onto the full 10-band baseline pack, zero-fills n_arrived, and
    computes every band's smoothed contribution — so the consumer
    never silently understates PSI (the salt_dispatch_view pattern:
    cross-band derivation is a batch view over the materialized sink,
    not streaming state).  Output: (band, n_arrived, n_old, t_old,
    t_new, psi_contrib); total PSI = SUM(psi_contrib).  Bounded by
    construction (PSI_BANDS rows)."""
    from scala_reactivex_spark.operators.llm_text import PSI_BANDS

    arrived = materialized.select("band", "n_arrived")
    tot = arrived.agg(
        F.coalesce(F.sum("n_arrived"), F.lit(0)).cast("bigint").alias("t_new")
    )
    filled = (
        baseline.join(arrived, "band", "left")
        .na.fill({"n_arrived": 0})
        .crossJoin(F.broadcast(tot))
    )
    po = (F.col("n_old") + F.lit(1.0)) / (F.col("t_old") + F.lit(PSI_BANDS))
    pn = (F.col("n_arrived") + F.lit(1.0)) / (
        F.col("t_new") + F.lit(PSI_BANDS)
    )
    return filled.select(
        "band",
        F.col("n_arrived").cast("bigint").alias("n_arrived"),
        "n_old",
        "t_old",
        "t_new",
        ((pn - po) * F.log(pn / po)).alias("psi_contrib"),
    )


def twin_salt_dispatch(sdf: DataFrame) -> DataFrame:
    """Streaming skew monitor [T1 — live twin of op_salt_dispatch_stats]:
    arriving events maintain the standing per-key count table
    (complete-mode grouped count — counts merge associatively across
    micro-batches, executors and restarts), the table a live pipeline
    watches to decide WHEN to flip its per-key ordered jobs to the
    _salted twins (or lets the _auto operators decide).  The one-row
    dispatch summary is a VIEW over the materialized counts
    (:func:`salt_dispatch_view`) — the same stateful-count/derived-view
    split as twin_topk_window/topk_view, because argmax-with-ties is a
    batch derivation, not streaming state."""
    return sdf.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("cnt")
    )


def salt_dispatch_view(materialized: DataFrame) -> DataFrame:
    """Dispatch summary over twin_salt_dispatch's sink table — exactly
    the batch operator's derivation (operators/salted.dispatch_summary),
    so the live monitor and the graded query agree to the bit."""
    from scala_reactivex_spark.operators.salted import dispatch_summary

    return dispatch_summary(materialized.select("user_id", "cnt"))


def twin_hybrid_rrf(
    sdf: DataFrame, corpus: DataFrame, out_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Streaming hybrid-retrieval serving [T3 retrieval — live twin of
    llm_hybrid_rrf's fusion]: probe queries ARRIVE (the file doc stream,
    one file per micro-batch), the hybrid index STANDS (``hybrid_corpus``
    — per-doc token sets for the lexical leg + normed embeddings for the
    semantic leg).  Per-probe rank windows are batch semantics, so the
    fusion runs inside ``foreachBatch`` where each micro-batch is a
    bounded frame: the arriving probes fetch their embedding from the
    static index (the query-encoder lookup), broadcast against one
    corpus pass, and the RRF top-k commits through the idempotent
    parquet sink — a replayed batch is skipped on its _COMMITTED marker,
    so serving is effectively-once end-to-end.  Each probe's result
    depends only on the static corpus, never on other arrivals, so the
    union over micro-batches equals the batch operator restricted to the
    probe set (asserted in tests/test_retrieval_subdoc.py).  Returns the
    committed results as a batch frame."""
    from scala_reactivex_spark.operators.llm_retrieval import rrf_fuse

    spark = sdf.sparkSession
    commit = idempotent_parquet_sink(out_dir)
    enc = corpus.select(
        F.col("doc_id").alias("probe_id"),
        F.col("embedding").alias("pe"),
        F.col("nrm").alias("pn"),
    )

    def fuse_batch(batch_df: DataFrame, batch_id: int) -> None:
        # The arriving tranche is tiny — broadcast it into the encoder
        # lookup so the plan probes the cached corpus in place instead
        # of shuffling the static side per trigger (micro-batch plans
        # don't get AQE's join-strategy rescue).
        probes = F.broadcast(
            batch_df.select(
                F.col("doc_id").alias("probe_id"),
                F.array_distinct(F.split("text", " ")).alias("ptoks"),
            )
        ).join(enc, "probe_id")
        commit(rrf_fuse(probes, corpus), batch_id)

    run_foreach_batch(sdf, fuse_batch, checkpoint_dir)
    return spark.read.parquet(out_dir).select(
        "probe_id", "rnk", "doc_id", "r_lex", "r_sem", "rrf_1e6"
    )


def twin_chunk_overlap(sdf: DataFrame) -> DataFrame:
    """Streaming RAG chunking [T3 — live twin of llm_chunk_overlap]:
    arriving documents chunk into overlapping sliding windows with the
    IDENTICAL expressions as the batch operator (chunk_overlap_frame —
    scan → generate → project, completely stateless), so the chunk
    stream feeds a live retrieval index exactly as the batch job builds
    the offline one.  Append mode, no watermark, no state store: the
    canonical embarrassingly-parallel ingest stage."""
    from scala_reactivex_spark.operators.llm_extras import (
        chunk_overlap_frame,
    )

    return chunk_overlap_frame(sdf)


def twin_schema_evolution(spark: SparkSession, evolved_dir: str) -> DataFrame:
    """Streaming schema-evolution read [live twin of src_schema_evolution]:
    a file-source stream CANNOT mergeSchema mid-query (the schema is
    fixed at start), so the production pattern is to declare the EVOLVED
    superset schema up front — parquet fills columns absent from old
    generations with NULL, exactly like the batch mergeSchema scan.
    Reads both generations of the evolved events layout (recursive
    lookup, explicit superset schema) and maintains the same
    new-column-presence rollup as the batch operator (complete mode);
    batch equivalence is pytest-asserted."""
    configure_session(spark)
    sdf = (
        spark.readStream.schema(
            "event_id BIGINT, user_id BIGINT, value DOUBLE, vlen BIGINT"
        )
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1)
        .parquet(evolved_dir)
    )
    # Distinct aggregates are unsupported on streams, so the live state
    # is the per-(generation, user) grain; the batch rollup below
    # (schema_evolution_view) derives the distinct-user count from the
    # materialized table — same split as twin_topk_window/topk_view.
    return sdf.groupBy(
        F.col("vlen").isNotNull().cast("int").alias("has_new_col"),
        "user_id",
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("value").cast("decimal(38,6)")).alias("value_dec"),
        F.coalesce(F.sum("vlen"), F.lit(0)).cast("bigint").alias("vlen_sum"),
    )


def schema_evolution_view(materialized: DataFrame) -> DataFrame:
    """Rollup view over twin_schema_evolution's sink table — decimal
    sums re-aggregate exactly, so the view equals the batch operator."""
    return materialized.groupBy("has_new_col").agg(
        F.sum("n").cast("bigint").alias("n_events"),
        F.count("*").cast("bigint").alias("n_users"),
        F.round(F.sum("value_dec").cast("double"), 4).alias("total_value"),
        F.sum("vlen_sum").cast("bigint").alias("sum_vlen"),
    )


def twin_kanon_gate(sdf: DataFrame, violating: DataFrame) -> DataFrame:
    """Streaming k-anonymity release gate [live twin of llm_kanon_audit]:
    arriving documents probe the BATCH-built violating-group list (the
    audit's output — quasi-identifier groups below k in the released
    corpus) and are flagged ``suppress`` when their (lang, source,
    length-band) lands in a sub-k group — the privacy gate a release
    pipeline runs at ingest so a new document cannot silently join an
    identifiable slice.  Stateless per arrival: one stream-static
    equi-join on the quasi-identifier key (the static side is the
    output-bounded audit table, broadcast-sized)."""
    from scala_reactivex_spark.operators.llm_extras import KANON_BAND

    probe = sdf.select(
        "doc_id",
        "lang",
        "source",
        F.expr(f"CAST(n_chars DIV {KANON_BAND} AS BIGINT)").alias(
            "len_band"
        ),
    )
    flag = violating.select(
        "lang", "source", "len_band", F.lit(1).alias("hit")
    )
    return probe.join(
        flag, ["lang", "source", "len_band"], "left"
    ).select(
        "doc_id",
        "lang",
        "source",
        "len_band",
        F.coalesce("hit", F.lit(0)).cast("int").alias("suppress"),
    )


def twin_ann_ivf(
    sdf: DataFrame,
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Streaming IVF ANN serving [live twin of llm_ann_ivf's search]:
    query vectors ARRIVE (the embeddings file stream), the learned IVF
    index STANDS (persisted vector frame + centroids + bucket
    assignment from ``_ivf_index`` — built once, exactly the offline
    artifact a vector-serving tier loads).  Each micro-batch assigns
    its queries to their nearest centroid (broadcast centroids, hash
    aggregate), gathers ONLY that bucket's candidates from the static
    index (1/K of the corpus per query — the whole point of IVF), and
    emits the cosine top-k; per-query rank windows are batch semantics,
    so the scoring runs in ``foreachBatch`` with the idempotent parquet
    sink (replays are no-ops).  Batch-equivalence is pytest-asserted
    against llm_ann_ivf for the same probe set."""
    from scala_reactivex_spark.operators.llm_similarity import (
        TOPK,
        _assign_buckets,
        _ivf_index,
        cosine_with_norms,
        norm_col,
    )
    from pyspark.sql import Window

    ev, cent, assignment = _ivf_index(spark, sf_dir)
    commit = idempotent_parquet_sink(out_dir)

    def score_batch(batch_df: DataFrame, batch_id: int) -> None:
        q = batch_df.select(
            "vec_id", "embedding", norm_col("embedding").alias("vn")
        )
        qb = _assign_buckets(q, cent)
        probes = q.join(qb, "vec_id").select(
            F.col("vec_id").alias("probe_id"),
            F.col("bucket").alias("pbucket"),
            F.col("embedding").alias("pe"),
            F.col("vn").alias("pn"),
        )
        cands = (
            F.broadcast(probes)
            .join(
                assignment.alias("a"),
                (F.col("a.bucket") == F.col("pbucket"))
                & (F.col("a.vec_id") != F.col("probe_id")),
            )
            .join(ev.alias("em"), F.col("a.vec_id") == F.col("em.vec_id"))
            .select(
                "probe_id",
                F.col("a.vec_id").alias("neighbor_id"),
                F.round(
                    cosine_with_norms(
                        "pe", F.col("em.embedding"), "pn", F.col("em.vn")
                    ),
                    4,
                ).alias("cos_sim"),
            )
        )
        w = Window.partitionBy("probe_id").orderBy(
            F.col("cos_sim").desc(), F.col("neighbor_id")
        )
        commit(
            cands.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= TOPK)
            .select("probe_id", "neighbor_id", "cos_sim", "rnk"),
            batch_id,
        )

    run_foreach_batch(sdf, score_batch, checkpoint_dir)
    return spark.read.parquet(out_dir).select(
        "probe_id", "neighbor_id", "cos_sim", "rnk"
    )


def twin_ann_pq(
    sdf: DataFrame,
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Streaming PQ ANN serving [live twin of llm_ann_pq's ADC scan]:
    query vectors ARRIVE, the COMPRESSED index STANDS (the pre-packed
    codebook cells and the codes-array corpus from
    ``_pq_serving_pack`` — raw vectors never touched at query time, the
    whole point of product quantization).  Each micro-batch slices the
    arriving embedding into pinned-integer subvectors, computes the
    per-query M×codes lookup table with a ``zip_with`` against the
    broadcast packed codebook (no exploded join, no LUT shuffle —
    round-10 verdict #6), folds it into one nested map per probe, and
    scans the code table with a broadcast nested-loop join whose
    distance is a pure ``aggregate`` expression over the M code
    lookups — the asymmetric-distance (ADC) scan with ZERO shuffles
    before the final top-k window.  Commits through the idempotent sink
    inside ``foreachBatch``.  Batch-equivalence pytest-asserted against
    llm_ann_pq for the same probes (identical integer adc_d2: same
    pinning, same (v-c)^2 sums, only the grouping is repackaged)."""
    from pyspark.sql import Window

    from scala_reactivex_spark.operators.llm_similarity import (
        PQ_M,
        PQ_SUBDIM,
        TOPK,
        _pq_serving_pack,
    )

    c1p, encp = _pq_serving_pack(spark, sf_dir)
    commit = idempotent_parquet_sink(out_dir)

    def score_batch(batch_df: DataFrame, batch_id: int) -> None:
        # One row per (probe, subspace): the pinned-integer subvector.
        qm = batch_df.select(
            F.col("vec_id").alias("probe_id"),
            F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("m0"),
            F.col("embedding"),
        ).select(
            "probe_id",
            F.col("m0").cast("bigint").alias("m"),
            "embedding",
        ).select(
            "probe_id",
            "m",
            F.expr(
                f"transform(slice(embedding, CAST(m * {PQ_SUBDIM} + 1 "
                f"AS INT), {PQ_SUBDIM}), x -> CAST(floor(CAST(x AS "
                "DOUBLE) * 1000000 + 0.5) AS BIGINT))"
            ).alias("qv"),
        )
        # LUT: partial squared distance per (probe, m, code) — a
        # broadcast join on m plus an array fold; no shuffle.
        lut = qm.join(F.broadcast(c1p), "m").select(
            "probe_id",
            "m",
            "code",
            F.expr(
                "aggregate(zip_with(qv, cvec, (a, b) -> (a-b)*(a-b)), "
                "0L, (acc, x) -> acc + x)"
            ).alias("ld2"),
        )
        # Fold the LUT into one nested map per probe (m -> code -> ld2).
        # Both groupBys move only probes × M × codes rows — trivial.
        luts = (
            lut.groupBy("probe_id", "m")
            .agg(
                F.map_from_entries(
                    F.collect_list(F.struct("code", "ld2"))
                ).alias("lmap")
            )
            .groupBy("probe_id")
            .agg(
                F.map_from_entries(
                    F.collect_list(F.struct("m", "lmap"))
                ).alias("luts")
            )
        )
        # ADC scan: broadcast nested-loop over the compressed corpus;
        # the distance is a pure expression (M map lookups summed), so
        # the only shuffle in the whole batch is the top-k window.
        adc = (
            encp.join(F.broadcast(luts))
            .where(F.col("vec_id") != F.col("probe_id"))
            .select(
                "probe_id",
                F.col("vec_id").alias("neighbor_id"),
                F.expr(
                    f"aggregate(sequence(0, {PQ_M - 1}), 0L, "
                    "(acc, mm) -> acc + element_at("
                    "element_at(luts, CAST(mm AS BIGINT)), "
                    "element_at(codes, mm + 1)))"
                )
                .cast("bigint")
                .alias("adc_d2"),
            )
        )
        w = Window.partitionBy("probe_id").orderBy("adc_d2", "neighbor_id")
        commit(
            adc.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= TOPK)
            .select("probe_id", "neighbor_id", "adc_d2", "rnk"),
            batch_id,
        )

    run_foreach_batch(sdf, score_batch, checkpoint_dir)
    return spark.read.parquet(out_dir).select(
        "probe_id", "neighbor_id", "adc_d2", "rnk"
    )


def affinity_gate_params(spark: SparkSession, sf_dir: str):
    """(cvec, cutoff) static frames for :func:`twin_eval_affinity` —
    the batch-trained anchor-centroid array (1 row) and the admission
    cutoff: the (dot, vec_id) of the LAST member of the batch top-k,
    so the streaming admit set reproduces llm_eval_affinity's
    membership exactly, ties included."""
    from scala_reactivex_spark.operators.llm_signals import (
        AFFINITY_ANCHOR,
        llm_eval_affinity,
    )
    from scala_reactivex_spark.sources.catalog import table

    emb = table(spark, sf_dir, "embeddings")
    pin = emb.where(F.col("label") == AFFINITY_ANCHOR).select(
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.floor(x.cast("double") * 1000000 + 0.5).cast(
                    "bigint"
                ),
            )
        ).alias("pos", "v")
    )
    cvec = (
        pin.groupBy("pos")
        .agg(
            F.floor(F.sum("v").cast("double") / F.count("*"))
            .cast("bigint")
            .alias("c")
        )
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: s.getField("c"),
            ).alias("cv")
        )
    )
    topk = llm_eval_affinity(spark, sf_dir)
    cutoff = topk.orderBy(
        F.col("dot_1e12").asc(), F.col("vec_id").desc()
    ).limit(1).select(
        F.col("dot_1e12").alias("cut_dot"),
        F.col("vec_id").alias("cut_vid"),
    )
    return cvec, cutoff


def twin_eval_affinity(
    sdf: DataFrame, cvec: DataFrame, cutoff: DataFrame
) -> DataFrame:
    """Streaming eval-affinity admission gate [T3 — live twin of
    llm_eval_affinity's selection]: arriving embeddings are scored
    against the BATCH-trained anchor centroid (1-row broadcast array —
    the model-serving shape) and admitted iff their (dot, vec_id) ranks
    at or above the batch top-k's last member — dot > cut_dot, or
    dot = cut_dot and vec_id ≤ cut_vid, the exact lexicographic rule
    the batch ORDER BY dot DESC, vec_id LIMIT k applies.  Completely
    STATELESS per row: append mode, no watermark, no streaming shuffle;
    the admit set over the drained stream equals the batch selection
    exactly, ties included."""
    pinned = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * 1000000 + 0.5).cast("bigint"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("e"), F.col("cv"), lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    admit = (F.col("dot_1e12") > F.col("cut_dot")) | (
        (F.col("dot_1e12") == F.col("cut_dot"))
        & (F.col("vec_id") <= F.col("cut_vid"))
    )
    return (
        sdf.select("vec_id", "label", pinned.alias("e"))
        .crossJoin(F.broadcast(cvec))
        .crossJoin(F.broadcast(cutoff))
        .select(
            "vec_id",
            F.col("label").cast("bigint").alias("label"),
            dot.alias("dot_1e12"),
            "cut_dot",
            "cut_vid",
        )
        .select(
            "vec_id",
            "label",
            "dot_1e12",
            admit.cast("int").alias("admit"),
        )
    )


def nb_model_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch-trained Naive-Bayes language model packed into ONE
    static row of ``array<struct<cand, m, miss_l, prior_l>>`` for
    :func:`twin_nb_lang` — built from the SAME
    :func:`llm_text.nb_model_frames` the batch scorer uses, so the
    serving pack cannot fork from the training recipe.  Map fields are
    not orderable, so the class array is collected unsorted — scoring
    is order-independent (argmax over all classes with an explicit
    (score, cand) rule)."""
    from scala_reactivex_spark.operators.llm_text import nb_model_frames

    cls, llh = nb_model_frames(spark, sf_dir)
    per_class = (
        llh.groupBy("lang")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("tok", "l"))
            ).alias("m")
        )
        .join(cls.select("lang", "miss_l", "prior_l"), "lang")
    )
    return per_class.agg(
        F.collect_list(
            F.struct(
                F.col("lang").alias("cand"), "m", "miss_l", "prior_l"
            )
        ).alias("classes")
    )


def nb_serving_pack(spark: SparkSession, sf_dir: str):
    """(model, thr) — the NB model+policy serving pack as two
    MATERIALIZED 1-row local-relation frames (plans/memo.
    materialize_scalar), session-memoized per fixture.

    This is what twin_nb_filter must be handed: the lazy
    :func:`nb_model_params` / ``llm_text.nb_filter_threshold`` frames
    re-execute the full training + calibration pipeline inside EVERY
    micro-batch when crossJoin-broadcast into a stream (r14 verdict #1
    — the per-trigger retrain made twin_nb_filter the worst twin at
    p50 2044 ms).  Collect-and-rebuild severs the lineage: the plan
    under the stream is a LocalRelation, the trained-artifact posture
    a real serving tier has.  Values are identical by construction
    (the pack IS the batch frames' rows), so the batch-equivalence law
    tests are unaffected."""
    from scala_reactivex_spark.operators.llm_text import (
        nb_filter_threshold,
    )
    from scala_reactivex_spark.plans.memo import (
        materialize_scalar,
        session_memo,
    )

    return session_memo(
        spark,
        sf_dir,
        "nb_serving_pack",
        lambda: (
            materialize_scalar(spark, nb_model_params(spark, sf_dir)),
            materialize_scalar(
                spark, nb_filter_threshold(spark, sf_dir)
            ),
        ),
    )


def embed_outlier_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized 1-row outlier model (operators.llm_curation.
    embed_outlier_model: global pinned centroid array + corpus mean
    d2) — the OOD screen's 'model', collected and rebuilt as a local
    relation so the twin serves a fixed snapshot (the
    zorder_bounds_pack posture)."""
    from scala_reactivex_spark.operators.llm_curation import (
        embed_outlier_model,
    )
    from scala_reactivex_spark.plans.memo import (
        materialize_scalar,
        session_memo,
    )

    return session_memo(
        spark,
        sf_dir,
        "embed_outlier_pack",
        lambda: materialize_scalar(
            spark, embed_outlier_model(spark, sf_dir)
        ),
    )


def twin_embed_outliers(sdf: DataFrame, pack: DataFrame) -> DataFrame:
    """Streaming embedding-outlier gate [T3 — live twin of
    llm_embed_outliers, round 16]: arriving vectors score exact
    integer d2 against the BATCH model's (centroid, mean_d2) snapshot
    — the out-of-distribution screen an embedding-ingest stream runs
    before vectors reach an ANN index or a semdedup pass.  The model
    is collected ONCE at query construction into closure-captured
    numpy arrays and applied per micro-batch by an Arrow-vectorized
    scorer (the _nb_py_pack posture — the first cut served the batch
    op's interpreted per-row zip_with/transform HOFs and read p50
    1154 ms; HOF lambdas never reach codegen).  All arithmetic is the
    SAME pinned sequence as the batch plan — float32→float64 widening
    is exact, ·1e6 and floor are identical IEEE ops, the squared sums
    are int64 — so drained decisions equal the batch op's to the bit
    (law-tested).  Completely STATELESS per row: append mode, no
    watermark, no streaming shuffle."""
    import numpy as np

    from scala_reactivex_spark.operators.llm_curation import OUTLIER_R2

    [row] = pack.collect()
    cent = np.asarray(row["cent"], dtype=np.int64)
    mean_d2 = int(row["mean_d2"])
    # Degenerate-model guard (round-17 ADVICE): with every vector AT
    # the centroid, numpy's // 0 would emit 0s with a warning while the
    # batch plan's DIV yields NULL and the DuckDB oracle errors — three
    # behaviors for one input.  Fail loudly and identically instead.
    assert mean_d2 > 0, (
        "degenerate embed-outlier pack: mean_d2 == 0 (all vectors at "
        "the centroid) — the r_1e2 ratio is undefined"
    )
    thr = OUTLIER_R2 * mean_d2

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mat = np.stack(
                [
                    np.floor(
                        np.asarray(v, dtype=np.float64) * 1_000_000 + 0.5
                    ).astype(np.int64)
                    for v in pdf["embedding"]
                ]
            ) if len(pdf) else np.empty((0, len(cent)), dtype=np.int64)
            diff = mat - cent
            d2 = (diff * diff).sum(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "label": pdf["label"],
                    "d2": pd.Series(d2, index=pdf.index, dtype="int64"),
                    "r_1e2": pd.Series(
                        d2 * 100 // mean_d2, index=pdf.index, dtype="int64"
                    ),
                    "is_outlier": pd.Series(
                        (d2 > thr).astype("int32"), index=pdf.index
                    ),
                }
            )

    return sdf.mapInPandas(
        score,
        "vec_id bigint, label int, d2 bigint, r_1e2 bigint,"
        " is_outlier int",
    )


def zorder_bounds_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized 1-row z-layout bounds (operators.creation.
    zorder_bounds) — the ingest router's 'model', collected and
    rebuilt as a local relation so twin_zorder_route's every
    micro-batch serves a fixed bounds snapshot instead of re-running
    the events min/max aggregate (r14 ADVICE: lazy model packs made
    the measured trigger latency include upstream recompute)."""
    from scala_reactivex_spark.operators.creation import zorder_bounds
    from scala_reactivex_spark.plans.memo import (
        materialize_scalar,
        session_memo,
    )

    return session_memo(
        spark,
        sf_dir,
        "zorder_bounds_pack",
        lambda: materialize_scalar(spark, zorder_bounds(spark, sf_dir)),
    )


def _nb_py_pack(model: DataFrame):
    """Collect the 1-row model frame into the closure-captured serving
    pack: (cands ascending, miss/prior int64 vectors aligned to cands,
    token → per-class log-likelihood int64 vector with unseen classes
    miss-filled).  THE single serving-side pack layout, shared by
    twin_nb_lang and twin_nb_filter so the two paths cannot fork.

    Why a Python pack and not a broadcast crossJoin + array
    higher-order functions (the pre-r15 shape): HOF lambdas evaluate
    INTERPRETED (no whole-stage codegen) and ``element_at`` on a
    MapType does a linear scan — per-trigger scoring dominated the
    twin's p50 (1.6 s on a 2 500-doc micro-batch after the retrain fix
    alone), and the map scan is O(vocab) per token, which cannot
    survive a production-sized vocabulary.  The vectorized scorer does
    one O(1) dict probe + one length-n_classes add per token inside
    Arrow batches; the pack itself is the bounded trained artifact
    (n_classes × vocab), exactly what a real serving tier ships to
    executors as a broadcast variable."""
    import numpy as np

    [row] = model.collect()
    classes = sorted(row["classes"], key=lambda c: c["cand"])
    cands = [c["cand"] for c in classes]
    miss = np.array([c["miss_l"] for c in classes], dtype=np.int64)
    prior = np.array([c["prior_l"] for c in classes], dtype=np.int64)
    tokvec: dict = {}
    for i, c in enumerate(classes):
        for t, l in c["m"].items():
            if t not in tokvec:
                tokvec[t] = miss.copy()
            tokvec[t][i] = l
    return cands, miss, prior, tokvec


def _nb_score_block(texts, cands, miss, prior, tokvec):
    """Score one Arrow batch of texts under the pack: per doc, class
    scores = prior + Σ tokens (dict-matched pinned log-likelihood
    vector, else the miss vector); returns (pred, top, second, n_tok)
    numpy/list columns with the batch tie rule (score DESC, cand ASC —
    a stable argsort over the ascending-cand axis).  Token rule is
    identical to the batch op's ``split(text, ' ')``: consecutive
    spaces yield empty-string tokens that count toward n_tok and miss
    the vocabulary, in BOTH engines.  All arithmetic is int64 sums of
    the same pinned integers the batch grid uses — exact."""
    import numpy as np

    n = len(cands)
    preds, tops, seconds, ntoks = [], [], [], []
    for text in texts:
        toks = text.split(" ")
        acc = prior.copy()
        for t in toks:
            acc += tokvec.get(t, miss)
        idx = np.argsort(-acc, kind="stable")
        preds.append(cands[idx[0]])
        tops.append(int(acc[idx[0]]))
        seconds.append(int(acc[idx[1]]) if n >= 2 else None)
        ntoks.append(len(toks))
    return preds, tops, seconds, ntoks


def _nb_band(top: int, second, n_tok: int, band_u: int, n_bands: int) -> int:
    """Margin band, identical to llm_text._nb_doc_margins: per-token
    margin (non-negative, so // matches Spark's trunc-toward-zero DIV)
    banded at band_u (= NB_CAL_BAND_U), top band open-ended; <2 classes
    ⇒ top band.  Constants are parameters so the per-doc hot loop does
    no import-machinery work (round-15 review finding)."""
    if second is None:
        return n_bands - 1
    return min((top - second) // n_tok // band_u, n_bands - 1)


def twin_nb_lang(sdf: DataFrame, model: DataFrame) -> DataFrame:
    """Streaming NB language classification [T3 — live twin of
    llm_nb_lang's per-doc argmax]: arriving documents are scored under
    every class of the BATCH-trained model — collected ONCE at query
    construction into the closure-captured serving pack (_nb_py_pack)
    and applied per micro-batch by the Arrow-vectorized scorer
    (_nb_score_block); argmax by (score DESC, cand ASC).  Completely
    STATELESS per row — append mode, no watermark, no streaming
    shuffle — and the scores are int64 sums of the SAME pinned
    integers as the batch op, so drained predictions equal the batch
    grid argmax exactly."""
    cands, miss, prior, tokvec = _nb_py_pack(model)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # Null texts drop BEFORE scoring — exact batch parity: the
            # batch grid's explode(split(text, ' ')) drops a NULL-text
            # doc entirely, and an unguarded .split on None would kill
            # the streaming query (ADVICE r15).
            pdf = pdf[pdf["text"].notna()]
            preds, tops, _seconds, _ntoks = _nb_score_block(
                pdf["text"], cands, miss, prior, tokvec
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "lang": pdf["lang"],
                    "pred_lang": preds,
                    "score": pd.Series(tops, dtype="int64"),
                }
            )

    return sdf.mapInPandas(
        score,
        "doc_id bigint, lang string, pred_lang string, score bigint",
    )


def twin_nb_filter(
    sdf: DataFrame, model: DataFrame, thr: DataFrame
) -> DataFrame:
    """Streaming calibration-thresholded NB language gate [T3 — live
    twin of llm_nb_filter's keep/drop stage]: arriving documents score
    under the batch-trained model — the SAME closure-captured serving
    pack + Arrow-vectorized scorer twin_nb_lang serves (_nb_py_pack /
    _nb_score_block; see _nb_py_pack for why this replaced the r14
    crossJoin-broadcast HOF expression) — derive their per-token
    margin band with the batch NB_CAL_BAND_U banding (_nb_band, the
    same trunc-division arithmetic as llm_text._nb_doc_margins), and
    are kept iff the band clears the BATCH calibration-derived
    threshold (llm_text.nb_filter_threshold via nb_serving_pack — the
    model+policy serving pack, collected once at query construction).
    Unlike the batch key, the stream gates EVERY arriving doc, labeled
    or not — lang never enters the decision path; on the eval split
    the drained decisions equal the batch op's exactly (law-tested).
    Completely STATELESS per row: append mode, no watermark, no
    streaming shuffle."""
    from scala_reactivex_spark.operators.llm_text import (
        NB_CAL_BAND_U,
        NB_CAL_BANDS,
    )

    cands, miss, prior, tokvec = _nb_py_pack(model)
    [thr_row] = thr.collect()
    thr_band = int(thr_row["thr_band"])

    def gate(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # Same null-text drop as twin_nb_lang (batch explode parity).
            pdf = pdf[pdf["text"].notna()]
            preds, tops, seconds, ntoks = _nb_score_block(
                pdf["text"], cands, miss, prior, tokvec
            )
            bands = [
                _nb_band(t, s, n, NB_CAL_BAND_U, NB_CAL_BANDS)
                for t, s, n in zip(tops, seconds, ntoks)
            ]
            band_s = pd.Series(bands, dtype="int64")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "pred_lang": preds,
                    "band": band_s,
                    "thr_band": pd.Series(
                        [thr_band] * len(pdf), dtype="int64"
                    ),
                    "kept": (band_s >= thr_band).astype("int32"),
                }
            )

    return sdf.mapInPandas(
        gate,
        "doc_id bigint, pred_lang string, band bigint, "
        "thr_band bigint, kept int",
    )


def twin_epoch_shuffle(sdf: DataFrame) -> DataFrame:
    """Streaming epoch-shard router [T3 — live twin of
    llm_epoch_shuffle's shard assignment]: arriving documents route to
    their reader shard by the SAME salted-ID hash as the batch layout
    (md5(doc_id || ':e1') first two nibbles mod 64), so an ingest
    stream lands new docs exactly where the next batch re-layout would
    put them — the membership is a pure function of doc_id.
    Completely STATELESS per row: append mode, no watermark, no
    streaming shuffle; pytest holds drained (doc_id, shard) pairs to
    the batch op's assignment column."""
    from scala_reactivex_spark.operators.llm_pipeline import (
        epoch_hash_col,
        epoch_shard_col,
    )

    return sdf.select(
        "doc_id", "source", epoch_hash_col().alias("h")
    ).select("doc_id", "source", epoch_shard_col("h").alias("shard"))


def twin_ann_spann(
    sdf: DataFrame,
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Streaming SPANN ANN serving [live twin of llm_ann_spann's
    search]: query vectors ARRIVE, the BOUNDARY-REPLICATED posting
    lists STAND (the disk-tiered ``_spann_postings`` artifact plus the
    shared IVF centroids).  Each micro-batch assigns its queries to
    their single nearest centroid (broadcast centroids — SPANN's whole
    trade: no per-query multiprobe fan-out, the recall was bought at
    index-build time) and gathers only that one posting list from the
    static index; scoring and the per-query top-k run in
    ``foreachBatch`` with the idempotent parquet sink (replays are
    no-ops).  Batch-equivalence is pytest-asserted against
    llm_ann_spann for the same probe set."""
    from scala_reactivex_spark.operators.llm_similarity import (
        TOPK,
        _assign_buckets,
        _ivf_index,
        _spann_postings,
        cosine_with_norms,
        norm_col,
    )
    from pyspark.sql import Window

    ev, cent, _ = _ivf_index(spark, sf_dir)
    post = _spann_postings(spark, sf_dir)
    commit = idempotent_parquet_sink(out_dir)

    def score_batch(batch_df: DataFrame, batch_id: int) -> None:
        q = batch_df.select(
            "vec_id", "embedding", norm_col("embedding").alias("vn")
        )
        qb = _assign_buckets(q, cent)
        probes = q.join(qb, "vec_id").select(
            F.col("vec_id").alias("probe_id"),
            F.col("bucket").alias("pbucket"),
            F.col("embedding").alias("pe"),
            F.col("vn").alias("pn"),
        )
        cands = (
            F.broadcast(probes)
            .join(
                post.alias("r"),
                (F.col("r.bucket") == F.col("pbucket"))
                & (F.col("r.vec_id") != F.col("probe_id")),
            )
            .join(ev.alias("em"), F.col("r.vec_id") == F.col("em.vec_id"))
            .select(
                "probe_id",
                F.col("r.vec_id").alias("neighbor_id"),
                F.round(
                    cosine_with_norms(
                        "pe", F.col("em.embedding"), "pn", F.col("em.vn")
                    ),
                    4,
                ).alias("cos_sim"),
            )
        )
        w = Window.partitionBy("probe_id").orderBy(
            F.col("cos_sim").desc(), F.col("neighbor_id")
        )
        commit(
            cands.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= TOPK)
            .select("probe_id", "neighbor_id", "cos_sim", "rnk"),
            batch_id,
        )

    run_foreach_batch(sdf, score_batch, checkpoint_dir)
    return spark.read.parquet(out_dir).select(
        "probe_id", "neighbor_id", "cos_sim", "rnk"
    )


def twin_zorder_route(sdf: DataFrame, bounds: DataFrame) -> DataFrame:
    """Streaming z-layout ingest router [T2 — live twin of
    src_zorder_read's write side]: arriving events compute their
    normalized (u8, d8) coordinates under the BATCH layout's broadcast
    1-row bounds (operators.creation.zorder_bounds — the router's
    'model') and their Morton z-bucket with the SAME shared
    expressions the batch rewrite uses (ZORDER_U8_EXPR / zbucket_expr,
    so a stream cannot land rows in a different layout than the next
    batch re-cluster would).

    Arrivals OUTSIDE the bounds snapshot — inevitable for a live
    stream (a later day than the layout has seen, a new high user_id)
    — CLAMP to the edge coordinate (0 / 255) so they land in the
    nearest edge bucket instead of aliasing onto an arbitrary interior
    bucket through the interleave's low-8-bit reads (round-14 review
    finding); ``in_bounds = 0`` marks them as the rows the next batch
    re-cluster must redistribute.  Completely STATELESS per row:
    append mode, no watermark, no streaming shuffle; pytest holds
    drained (event_id → zbucket) to the batch clustered copy's
    partition column and routes synthetic out-of-bounds arrivals to
    edge buckets."""
    from scala_reactivex_spark.operators.creation import (
        ZORDER_D8_EXPR,
        ZORDER_U8_EXPR,
        zbucket_expr,
    )

    clamp = lambda c: F.greatest(  # noqa: E731
        F.lit(0).cast("bigint"),
        F.least(F.lit(255).cast("bigint"), c.cast("bigint")),
    )
    raw_u = F.expr(ZORDER_U8_EXPR).cast("bigint")
    raw_d = F.expr(ZORDER_D8_EXPR).cast("bigint")
    return (
        sdf.select(
            "event_id",
            "user_id",
            F.expr("ms DIV 86400000").alias("day"),
        )
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_id",
            clamp(raw_u).alias("u8"),
            clamp(raw_d).alias("d8"),
            # in_bounds from the RAW columns against the bounds, not
            # from the truncated normalized coordinates: integer DIV
            # truncates toward zero, so an arrival up to span/256 BELOW
            # u0/d0 normalizes to raw 0 and would pass between(0,255)
            # while being outside the layout's bounds (r14 ADVICE).
            (
                F.col("user_id").between(F.col("u0"), F.col("u1"))
                & F.col("day").between(F.col("d0"), F.col("d1"))
            )
            .cast("int")
            .alias("in_bounds"),
        )
        .select(
            "event_id",
            "u8",
            "d8",
            F.expr(zbucket_expr()).cast("bigint").alias("zbucket"),
            "in_bounds",
        )
    )


def compaction_assign_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized (shard, source, out_file) fragment routing table —
    the compaction layout's 'model' (bounded: shards × sources rows),
    collected and rebuilt as a local relation (plans/memo.
    materialize_scalar) and session-memoized, so the ingest router's
    every micro-batch serves a fixed plan snapshot instead of
    re-running the fragment window (the r14-ADVICE lazy-model-pack
    defect class)."""
    from scala_reactivex_spark.operators.llm_pipeline import (
        COMPACT_TARGET,
        _compaction_offsets,
    )
    from scala_reactivex_spark.plans.memo import (
        materialize_scalar,
        session_memo,
    )

    return session_memo(
        spark,
        sf_dir,
        "compaction_assign_pack",
        lambda: materialize_scalar(
            spark,
            _compaction_offsets(spark, sf_dir).select(
                "shard",
                "source",
                F.expr(
                    f"CAST(start_off DIV {COMPACT_TARGET} AS BIGINT)"
                ).alias("out_file"),
            ),
        ),
    )


def twin_compaction_route(sdf: DataFrame, assign: DataFrame) -> DataFrame:
    """Streaming compaction ingest router [T2 — live twin of
    llm_compaction_exec's write side, round 15]: arriving documents
    compute their content shard with the SAME md5-nibble expression
    the batch rewrite uses (llm_pipeline._compaction_shard_col — the
    shard rule cannot fork) and join the broadcast plan snapshot
    (compaction_assign_pack) to land in the planned (shard, out_file)
    — so a live ingest stream appends into exactly the files the next
    OPTIMIZE pass laid out.  Arrivals whose (shard, source) fragment
    is OUTSIDE the plan snapshot — a brand-new source, the inevitable
    live-stream case — flag ``planned = 0`` with out_file −1: they
    queue for the next compaction pass instead of aliasing into an
    arbitrary planned file (the twin_zorder_route out-of-bounds
    contract).  Completely STATELESS per row: append mode, no
    watermark, no streaming shuffle (the plan side is broadcast);
    pytest holds drained routes to the written layout's partition
    columns."""
    from scala_reactivex_spark.operators.llm_pipeline import (
        _compaction_shard_col,
    )

    routed = sdf.select(
        "doc_id",
        "source",
        _compaction_shard_col().alias("shard"),
    ).join(F.broadcast(assign), ["shard", "source"], "left")
    return routed.select(
        "doc_id",
        F.col("shard").cast("bigint").alias("shard"),
        F.coalesce(F.col("out_file"), F.lit(-1))
        .cast("bigint")
        .alias("out_file"),
        F.col("out_file").isNotNull().cast("int").alias("planned"),
    )


def twin_novelty_gate(
    sdf: DataFrame,
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Streaming n-gram novelty scoring [T3 — live twin of
    llm_ngram_novelty]: documents ARRIVE, the corpus gram
    document-frequency table STANDS (built once from the batch corpus
    — the standing index an ingest pipeline probes to ask 'is this
    doc's phrasing new, or boilerplate we already hold?').  Per-doc
    novelty needs an aggregate over the doc's exploded grams, which is
    batch semantics per micro-batch — so the scoring runs in
    ``foreachBatch`` with the idempotent parquet sink (the twin_ann_*
    serving shape; replays are no-ops), composing the SAME
    llm_signals.doc_grams / novelty_over recipe as the batch key.
    Batch-equivalence is pytest-asserted: drained novelty over the
    full corpus stream equals llm_ngram_novelty exactly (a doc's own
    grams are in the standing table, so df ≥ 1 always)."""
    from scala_reactivex_spark.operators.llm_signals import (
        doc_grams,
        novelty_over,
    )
    from scala_reactivex_spark.sources.catalog import table

    # Session-memoized (one build + one persisted copy per session) —
    # a bare persist() per invocation would leak one pinned cached
    # frame per call, the exact class plans/memo.py exists to prevent
    # (round-14 review finding).
    from scala_reactivex_spark.plans.memo import session_memo

    cnt = session_memo(
        spark,
        sf_dir,
        "novelty_gram_df",
        lambda: (
            doc_grams(table(spark, sf_dir, "documents"))
            .groupBy("gram")
            .agg(F.count("*").alias("df"))
            .persist()
        ),
    )
    commit = idempotent_parquet_sink(out_dir)

    def score_batch(batch_df: DataFrame, batch_id: int) -> None:
        commit(novelty_over(doc_grams(batch_df), cnt), batch_id)

    run_foreach_batch(sdf, score_batch, checkpoint_dir)
    return spark.read.parquet(out_dir).select(
        "doc_id", "n_grams", "n_novel", "novelty_1e4"
    )
