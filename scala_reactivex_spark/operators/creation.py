"""Creation / source operators (SURVEY.md §2.1).

Reference surface: the Rx creation family — ``range``/``just``/``from``
[RX:range], ``interval`` [RX:interval], plus stream materialization from
storage [RS:1.1].  (Reference mount is empty — SURVEY.md §0 — so citations
use the public ReactiveX/reactive-streams spec notation from the survey.)

Spark-first design: sources are declarative scans (``spark.read.parquet``,
``spark.range``, ``sequence()+explode``) so Catalyst applies column pruning
and predicate pushdown; nothing is generated driver-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scala_reactivex_spark.functions.portable_hash import (
    kr31_duck_expr as _kr31_duck_expr,
)
from scala_reactivex_spark.functions.portable_hash import (
    kr31_spark_expr,
    mix31_duck_expr,
    mix31_spark_expr,
)
from scala_reactivex_spark.plans.registry import register
from scala_reactivex_spark.sources.catalog import table


@register(
    "src_scan_events",
    tier="T0",
    doc="Materialize a stream from storage; sanity stats [RS:1.1].",
    oracle="""
SELECT count(*) AS n_events,
       min(event_id) AS min_id,
       max(event_id) AS max_id
FROM events
""",
)
def src_scan_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "events").agg(
        F.count("*").alias("n_events"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


@register(
    "src_range",
    tier="T1",
    doc="Emit a finite integer sequence as a stream [RX:range].",
    # CAST pins DuckDB's HUGEINT (int128) sum back to BIGINT so the value
    # representation matches Spark's LongType (determinism convention §2.11:
    # type-pin every computed column).  Round-1 hash fail was exactly this.
    oracle=(
        "SELECT count(*) AS n, CAST(sum(i) AS BIGINT) AS total "
        "FROM range(1, 101) t(i)"
    ),
)
def src_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spark.range is a distributed source (splittable), not a driver loop.
    return spark.range(1, 101).agg(
        F.count("*").alias("n"), F.sum("id").alias("total")
    )


def empty(spark: SparkSession, schema: str = "value bigint") -> DataFrame:
    """Zero-row stream that completes immediately [RX:empty-never-throw].

    SURVEY §2.1 degenerate-creation row. Batch twin of ``Observable.empty``:
    a bounded frame with the requested schema and no rows."""
    return spark.createDataFrame([], schema)


def never(spark: SparkSession, schema: str = "value bigint") -> DataFrame:
    """Stream that emits nothing and never completes [RX:empty-never-throw].

    In the bounded/batch twin the *no elements* part is observable but the
    *never terminates* part is not (every bounded plan completes), so the
    batch surface is an empty frame; the streaming twin is a rate source
    filtered to false (runs forever, emits nothing)."""
    return spark.createDataFrame([], schema)


def never_stream(spark: SparkSession) -> DataFrame:
    """Streaming twin of ``never``: unbounded, alive, and element-free."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 1)
        .load()
        .where(F.lit(False))
    )


def throw(
    spark: SparkSession,
    message: str = "Observable.error",
    schema: str = "value bigint",
) -> DataFrame:
    """Stream that terminates with an error on first demand
    [RX:empty-never-throw]. Spark-first: plans are lazy, so the error is
    raised at ACTION time (≡ onError at subscription), not at assembly.
    ``raise_error`` lives in a FILTER, not a projected column: Catalyst
    prunes unused columns (a downstream count() would silently succeed)
    but never prunes a non-literal filter, so every action on this frame —
    or on anything composed over it — hits the error."""
    one = spark.range(1).where(F.raise_error(F.lit(message)).isNull())
    return one.select(
        *[
            F.lit(None).cast(f.dataType).alias(f.name)
            for f in spark.createDataFrame([], schema).schema.fields
        ]
    )


def defer(factory) -> DataFrame:
    """Fresh stream per subscription [RX:empty-never-throw].

    Spark plans are already lazy (assembly ≠ execution), but a plan built
    ONCE still freezes its parameters; ``defer`` re-invokes the factory so
    each subscription re-reads state the factory captures (new files in a
    path, current time, ...)."""
    return factory()


def repeat(spark: SparkSession, value, n: int) -> DataFrame:
    """Emit ``value`` ``n`` times [RX:empty-never-throw] — generated
    JVM-side via a distributed range, not a driver loop."""
    return spark.range(n).select(F.lit(value).alias("value"))


def _partitioned_events(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per fixture table content) a day-partitioned
    copy of events at its ``layout_dir`` — the hive layout whose read side
    exercises partition pruning, the mechanism that turns a 100 TB scan
    into a read of only the matching partitions."""
    import os

    from scala_reactivex_spark.operators.llm_extras import layout_dir

    out = layout_dir("events_by_day", sf_dir, "events")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        ev = table(spark, sf_dir, "events")
        (
            ev.select(
                "event_id",
                "user_id",
                "event_type",
                "value",
                "ms",
                F.dayofmonth("tsm").alias("dom"),
            )
            .write.mode("overwrite")
            .partitionBy("dom")
            .parquet(out)
        )
    return out


@register(
    "src_partition_prune",
    tier="T2",
    doc="Partition-pruned scan: a day-partitioned parquet copy of events "
    "(hive layout, written once via sources/formats-style partitionBy) "
    "read back with a filter on the partition column — the scan touches "
    "only 7 of 30 day directories (PartitionFilters in PLANS.md; "
    "pytest asserts the pruned InputFiles count). Aggregates the kept "
    "week per (day, event_type) with the decimal-exact sum.",
    oracle="""
SELECT CAST(day(ts) AS BIGINT) AS dom, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 4)
           AS total_value
FROM events
WHERE day(ts) <= 7
GROUP BY day(ts), event_type
""",
)
def src_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scala_reactivex_spark.functions.determinism import dsum

    path = _partitioned_events(spark, sf_dir)
    ev = spark.read.parquet(path)
    return (
        ev.where(F.col("dom") <= 7)
        .groupBy(F.col("dom").cast("bigint").alias("dom"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            dsum("value").alias("total_value"),
        )
    )


@register(
    "src_interval",
    tier="T1",
    doc="Emit ticks at a fixed period [RX:interval]; batch twin of rate source.",
    oracle="""
SELECT epoch_ms(ts) AS tick_ms
FROM generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-30',
                     INTERVAL 1 DAY) t(ts)
""",
)
def src_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sequence() + explode generates JVM-side; the streaming twin is
    # spark.readStream.format("rate") (see streaming/twins.py).
    return spark.sql(
        """
        SELECT unix_millis(tick) AS tick_ms
        FROM (
          SELECT explode(sequence(TIMESTAMP '2024-01-01',
                                  TIMESTAMP '2024-01-30',
                                  INTERVAL 1 DAY)) AS tick
        )
        """
    )


ZONE_CHUNK = 1_000  # simulated row-group size (write-order event_id ranges)
ZONE_PRED_VALUE = 450.0  # the skipping probe: value >= this


@register(
    "src_zonemap_profile",
    tier="T2",
    doc="Zone-map / data-skipping profile — the layout-quality check "
    "behind every 100 TB scan plan: events chunk into write-order "
    f"row groups of {ZONE_CHUNK} ids, and each chunk reports its "
    "min/max timestamp and value envelope plus whether a "
    f"value >= {ZONE_PRED_VALUE} probe could SKIP it entirely "
    "(max < predicate ⇒ the reader never opens the chunk).  The "
    "share of skippable chunks is the measurable benefit of "
    "sort-on-write clustering; a shuffled layout drives it to zero. "
    " Scale shape: one hash aggregate keyed on the chunk id — the "
    "same stats a parquet footer stores, derived relationally.",
    oracle=f"""
SELECT event_id // {ZONE_CHUNK} AS chunk,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(epoch_ms(ts)) AS BIGINT) AS min_ms,
       CAST(max(epoch_ms(ts)) AS BIGINT) AS max_ms,
       ROUND(min(value), 4) AS min_value,
       ROUND(max(value), 4) AS max_value,
       CAST(max(value) < {ZONE_PRED_VALUE} AS INT) AS skippable
FROM events
GROUP BY 1
""",
)
def src_zonemap_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "events")
        .groupBy(
            F.expr(f"event_id DIV {ZONE_CHUNK}").alias("chunk")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.min("ms").cast("bigint").alias("min_ms"),
            F.max("ms").cast("bigint").alias("max_ms"),
            F.round(F.min("value"), 4).alias("min_value"),
            F.round(F.max("value"), 4).alias("max_value"),
            (F.max("value") < ZONE_PRED_VALUE).cast("int").alias(
                "skippable"
            ),
        )
    )


#: Columns the ANALYZE-style stats pass profiles (lineitem — the fact
#: table a CBO cares most about).
STATS_COLUMNS = (
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_linenumber",
    "l_quantity",
    "l_returnflag",
    "l_linestatus",
)


@register(
    "src_table_stats",
    tier="T2",
    doc="ANALYZE TABLE-style per-column statistics (round 15) — the "
    "optimizer-stats collection pass every cost-based planner needs "
    "before it can size joins and pick broadcast sides at 100 TB: for "
    f"each of lineitem's {len(STATS_COLUMNS)} profiled columns, row "
    "count, null count, exact NDV and the distinct ratio (1e4).  One "
    "scan: Spark plans the multi-distinct aggregate as a single "
    "Expand + two-phase hash aggregate (the grouping-sets trick "
    "ANALYZE itself uses).  Exact NDV is the graded contract at "
    "fixture scale; the documented 100 TB path swaps count(DISTINCT) "
    "for the mergeable one-pass sketch the suite already grades "
    "portably (llm_hll_portable / rel_agg_approx) — same plan shape "
    "minus the Expand.",
    oracle=f"""
WITH s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         {', '.join(
            f'CAST(count({c}) AS BIGINT) AS nn_{i}, '
            f'CAST(count(DISTINCT {c}) AS BIGINT) AS ndv_{i}'
            for i, c in enumerate(STATS_COLUMNS))}
  FROM lineitem
)
{' UNION ALL '.join(
    f"SELECT '{c}' AS column_name, n_rows, n_rows - nn_{i} AS n_null, "
    f"ndv_{i} AS ndv, ndv_{i} * 10000 // n_rows AS ndv_ratio_1e4 FROM s"
    for i, c in enumerate(STATS_COLUMNS))}
""",
)
def src_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    aggs = [F.count("*").cast("bigint").alias("n_rows")]
    for i, c in enumerate(STATS_COLUMNS):
        aggs.append(F.count(c).cast("bigint").alias(f"nn_{i}"))
        aggs.append(F.countDistinct(c).cast("bigint").alias(f"ndv_{i}"))
    one = li.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("column_name"),
            F.col("n_rows"),
            (F.col("n_rows") - F.col(f"nn_{i}")).alias("n_null"),
            F.col(f"ndv_{i}").alias("ndv"),
            F.expr(f"ndv_{i} * 10000 DIV n_rows").alias(
                "ndv_ratio_1e4"
            ),
        )
        for i, c in enumerate(STATS_COLUMNS)
    ]
    return one.select(
        F.explode(F.array(*structs)).alias("s")
    ).select("s.*")


#: HLL sketch shape for src_table_stats_approx.  256 registers (vs
#: llm_signals' 64-register teaching sketch): a per-COLUMN NDV stat
#: feeds join sizing, so the tighter 1.04/sqrt(256) ~ 6.5% standard
#: error is worth 4x the (still trivially bounded) register state.
#: alpha_256 from the Flajolet et al. 2007 closed form
#: 0.7213 / (1 + 1.079 / m).
_HLL_M = 256
_HLL_ALPHA = 0.7213 / (1 + 1.079 / 256)
#: Rank ceiling: mixed hashes are < 2^31, so w = hv DIV 256 < 2^23 and
#: rho = 24 - bitlength(w) (w = 0 -> 24).
_HLL_RMAX = 24

#: Canonical per-type base value feeding the mix31 finalizer.  Numeric
#: columns hash their INTEGER value directly (pure whole-stage-codegen
#: arithmetic) — the first cut hashed every column's string form
#: through the per-char Karp-Rabin fold, and at the 600M-row probe
#: those 7 interpreted per-char loops made the sketch SLOWER than the
#: exact Expand it replaces (184.7 s vs 127.7 s); only the two 1-char
#: flag columns keep the (trivial) string fold.  The double column
#: floors first (both engines floor identically; its fixture values
#: are integral).  31-bit domain note: base values reduce mod P31, so
#: NDV beyond ~1e9 needs the 61-bit Mersenne variant
#: (llm_doc_fingerprint's fold) — the documented production widening,
#: inherent to every consumer of the 31-bit portable family.
_STATS_KIND = {
    "l_orderkey": "int",
    "l_partkey": "int",
    "l_suppkey": "int",
    "l_linenumber": "int",
    "l_quantity": "double",
    "l_returnflag": "str",
    "l_linestatus": "str",
}


def _stats_base_hash(c: str, *, duck: bool) -> str:
    """Dialect SQL for the canonical base hash of column ``c`` (the
    mix31 input), per _STATS_KIND."""
    from scala_reactivex_spark.functions.portable_hash import P31

    kind = _STATS_KIND[c]
    if kind == "int":
        return f"((CAST({c} AS BIGINT) % {P31}) + {P31}) % {P31}"
    if kind == "double":
        return (
            f"((CAST(floor({c}) AS BIGINT) % {P31}) + {P31}) % {P31}"
        )
    if duck:
        return _kr31_duck_expr(c)
    # Round-17: 1-char fast path for the flag columns — the length-1
    # Karp-Rabin fold is exactly (0*257 + codepoint) % P31 = the
    # codepoint, so the common case skips the interpreted per-char
    # `aggregate` HOF (~1.2M evals per scan at sf0.1); longer strings
    # fall through to the generic fold, value-identical either way.
    return (
        f"CASE WHEN length({c}) = 1 THEN CAST(ascii({c}) AS BIGINT) "
        f"ELSE {kr31_spark_expr(c)} END"
    )


def _hll_est_case(raw: str, zeros: str, m: int = _HLL_M) -> str:
    """Dialect-neutral SQL: HLL estimate with the Flajolet small-range
    linear-counting correction — shared text for the Spark plan and the
    DuckDB oracle so the graded value is one formula, not two."""
    lin = f"CAST(floor({m} * ln(CAST({m} AS DOUBLE) / {zeros})) AS BIGINT)"
    return (
        f"CASE WHEN {raw} <= {int(2.5 * m)} AND {zeros} > 0 "
        f"THEN {lin} ELSE {raw} END"
    )


@register(
    "src_table_stats_approx",
    tier="T3",
    doc="ANALYZE at 100 TB (round 16 — the r15 verdict #4 graded "
    "follow-through to src_table_stats's prose promise): the same "
    f"per-column profile with NDV from a portable {_HLL_M}-register "
    "HyperLogLog over each value's Karp-Rabin hash — passed through "
    "the mix31 avalanche finalizer (portable_hash.mix31_*), because "
    "the raw fold's leading-zero rank tracks DIGIT COUNT on short "
    "numeric strings and an unmixed sketch under-read l_orderkey 56x "
    "(measured, round 16) — instead of exact count(DISTINCT).  Scale "
    "shape is the whole point: the exact key "
    "plans an Expand x8 whose EVERY DISTINCT VALUE must survive the "
    "shuffle (sf100: 148.8 s, 0.88x vs linear — the suite's "
    "closest-to-linear probe), while this variant maps each row to "
    f"{len(STATS_COLUMNS)} (column, register, rank) triples that "
    f"partial-aggregate to a bounded {_HLL_M}-register sketch per "
    "column BEFORE the shuffle — map-side combine collapses the "
    "traffic to registers x partitions regardless of NDV, and "
    "register maxima merge associatively (the distributed-sketch "
    "property; sketches from independent table shards union by max). "
    "Base hashes are per-kind (_STATS_KIND): integer columns reduce "
    "their value mod P31 arithmetically, the double column floors "
    "then reduces (both engines floor identically on the integral "
    "fixture values), and only the 1-char flag columns fold through "
    "the Karp-Rabin string hash — all dialect-identical, so the "
    "DuckDB oracle replays every register and the estimate itself "
    "bit-for-bit: fully hash-graded, llm_hll_portable machinery.  The +/-25%% acceptance vs the exact key is a law "
    "test (tests/test_sources.py), NOT an in-plan exact recompute — "
    "embedding count(DISTINCT) would reinstate the very Expand this "
    "key exists to avoid.",
    oracle=f"""
WITH h0 AS (
  {' UNION ALL '.join(
     f"SELECT '{c}' AS column_name,"
     f" {_stats_base_hash(c, duck=True)} AS k"
     f" FROM lineitem WHERE {c} IS NOT NULL"
     for c in STATS_COLUMNS)}
), h AS (
  SELECT column_name, {mix31_duck_expr('k')} AS hv FROM h0
), r AS (
  SELECT column_name, hv % {_HLL_M} AS reg,
         CASE WHEN hv // {_HLL_M} = 0 THEN {_HLL_RMAX}
              ELSE {_HLL_RMAX} - length(bin(hv // {_HLL_M})) END AS rho
  FROM h
), spine AS (
  SELECT c.column_name, s.reg
  FROM (SELECT unnest({list(STATS_COLUMNS)!r}) AS column_name) c
  CROSS JOIN (SELECT unnest(range(0, {_HLL_M})) AS reg) s
), regs AS (
  SELECT spine.column_name, spine.reg, coalesce(max(r.rho), 0) AS mr
  FROM spine LEFT JOIN r ON spine.column_name = r.column_name
                        AND spine.reg = r.reg
  GROUP BY 1, 2
), folded AS (
  SELECT column_name,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(list(mr ORDER BY reg), v -> pow(2.0, -v))),
           (acc, x) -> acc + x) AS z,
         CAST(count(*) FILTER (WHERE mr = 0) AS BIGINT) AS reg_zeros
  FROM regs GROUP BY column_name
), est AS (
  SELECT column_name,
         CAST(floor({_HLL_ALPHA} * CAST({_HLL_M} AS DOUBLE)
                    * {_HLL_M} / z) AS BIGINT) AS raw_est,
         reg_zeros
  FROM folded
), plain AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         {', '.join(
            f'CAST(count({c}) AS BIGINT) AS nn_{i}'
            for i, c in enumerate(STATS_COLUMNS))}
  FROM lineitem
), px AS (
  {' UNION ALL '.join(
     f"SELECT '{c}' AS column_name, n_rows, n_rows - nn_{i} AS n_null"
     " FROM plain"
     for i, c in enumerate(STATS_COLUMNS))}
)
SELECT px.column_name, px.n_rows, px.n_null,
       {_hll_est_case('est.raw_est', 'est.reg_zeros')} AS ndv_est,
       est.reg_zeros
FROM px JOIN est ON px.column_name = est.column_name
""",
)
def src_table_stats_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-17 optimization (guide §2.3/§2.4 — shuffle fewer bytes,
    # remove stages outright): the r16 shape paid TWO full corpus scans
    # (the plain count/null agg branch plus the sketch branch) and a
    # small-data tail of ~4 extra stages (256×7 spine crossJoin,
    # broadcast left join, an interpreted collect_list/array_sort/
    # aggregate HOF fold, and the px explode joint) that measured ~2.0 s
    # of the key's 3.7 s warm time at sf0.1 — pure stage latency on
    # 1,792 rows.  Now ONE corpus scan feeds everything: null cells keep
    # their (column, NULL-reg) group through the first aggregate, so
    # n_rows / n_null fall out of the same register rollup and the
    # separate plain branch is gone; the spine + ordered fold collapse
    # to plain hash aggregates because the register sum is EXACT in any
    # order — every term pow(2,-mr) with mr ∈ [0,24] is a dyadic
    # rational ≥ 2⁻²⁴ and the total stays < 2⁹, so each partial sum
    # needs ≤ 33 mantissa bits and every double addition is exact;
    # missing registers contribute 2⁰ = 1.0 each, added as a single
    # (m − observed) term.  Observed rho is ≥ 1 by construction
    # (w = hv DIV m < 2^23 ⇒ bitlength ≤ 23 ⇒ rho ≥ 1; w = 0 ⇒ 24), so
    # reg_zeros = m − observed registers.  Values are bit-identical to
    # the r16 plan (oracle unchanged, re-verified at sf0.01/sf0.001).
    # The map-side-collapse property that fixed the 600M-row probe is
    # preserved: the first aggregate still reduces each partition to
    # ≤ columns × (m + 1) rows before the only corpus-scale exchange.
    HLL_M, HLL_ALPHA = _HLL_M, _HLL_ALPHA
    li = table(spark, sf_dir, "lineitem")
    # Canonical base hash per column as its OWN projection (the mix
    # finalizer references its argument four times — the twin_dedup
    # hoist lesson, round 16): pure codegen arithmetic for the numeric
    # columns, the trivial 1-char fold for the flag columns.
    krs = li.select(
        *[
            F.expr(_stats_base_hash(c, duck=False)).alias(f"k_{i}")
            for i, c in enumerate(STATS_COLUMNS)
        ]
    )
    # Round-17 per-row-work pass (guide §1.2 order-2; ~4.2M exploded
    # rows flow through here at sf0.1, 7x the corpus at any scale):
    # (a) the mix31 finalizer's inner affine-xorshift stage is hoisted
    #     to its own projection (g_i), so the outer stage references a
    #     COLUMN instead of inlining the inner stage's text four times;
    from scala_reactivex_spark.functions.portable_hash import (
        MIX31_SEEDS,
        P31,
    )

    (_ma, _mb), (_ma2, _mb2) = MIX31_SEEDS
    gs = krs.select(
        *[
            F.expr(
                f"(({_ma} * ((k_{i}) ^ ((k_{i}) DIV 32768)) + {_mb})"
                f" % {P31})"
            ).alias(f"g_{i}")
            for i in range(len(STATS_COLUMNS))
        ]
    )
    # (b) the per-row group key is a 1-byte column ID, not the column-
    #     NAME string — 4.2M string hashes/copies in the explode and
    #     the first aggregate become int compares (guide §2.3 narrower
    #     types); names rejoin on the 7-row frame after the rollup.
    structs = ", ".join(
        f"struct({i} AS cid,"
        f" (({_ma2} * ((g_{i}) ^ ((g_{i}) DIV 8192)) + {_mb2})"
        f" % {P31}) AS hv)"
        for i in range(len(STATS_COLUMNS))
    )
    # Null hv rows are KEPT (null column cell ⇒ null base hash ⇒ null
    # mix): they aggregate into a per-column (cid, NULL) group whose
    # count is that column's null count, so the one scan carries the
    # row/null stats the old plain branch re-scanned the table for.
    ex = (
        gs.select(F.explode(F.expr(f"array({structs})")).alias("x"))
        .select("x.cid", "x.hv")
    )
    # (c) rho via an integer-compare ladder instead of
    #     length(bin(w)) — the old form allocated a binary STRING per
    #     exploded row just to read its length; uniform hv means most
    #     rows satisfy the first one or two compares.  Value-identical:
    #     arm (w >= 2^(bl-1)) fires iff bitlength(w) = bl, walking
    #     bl = 23..1, else w = 0 ⇒ rho = 24.
    _ladder = " ".join(
        f"WHEN w >= {1 << (bl - 1)} THEN {_HLL_RMAX - bl}"
        for bl in range(23, 0, -1)
    )
    r = ex.select(
        "cid",
        (F.col("hv") % HLL_M).alias("reg"),
        F.expr(f"hv DIV {HLL_M}").alias("w"),
    ).select(
        "cid",
        "reg",
        F.expr(f"CASE {_ladder} ELSE {_HLL_RMAX} END").alias("rho"),
    )
    # AGGREGATE FIRST (round-16 birth-probe fix, unchanged): observed
    # register maxima + group counts collapse map-side to
    # ≤ columns × (m + 1) rows per partition BEFORE any exchange.
    regs_obs = r.groupBy("cid", "reg").agg(
        F.max("rho").alias("mr_obs"),
        F.count("*").cast("bigint").alias("cnt"),
    )
    nonnull = F.col("reg").isNotNull()
    folded = regs_obs.groupBy("cid").agg(
        # Exact in any order (see header note): unseen registers are
        # (m − observed) ones; observed registers add pow(2, -mr).
        (
            (F.lit(HLL_M) - F.count(F.when(nonnull, 1))).cast("double")
            + F.coalesce(
                F.sum(F.when(nonnull, F.expr("pow(2.0D, -mr_obs)"))),
                F.lit(0.0),
            )
        ).alias("z"),
        (F.lit(HLL_M) - F.count(F.when(nonnull, 1)))
        .cast("bigint")
        .alias("reg_zeros"),
        F.sum(F.when(nonnull, F.col("cnt")))
        .cast("bigint")
        .alias("nn"),
        F.sum("cnt").cast("bigint").alias("n_rows"),
    )
    # Reinstate any all-null column the scan produced no groups for
    # (cannot happen on this fixture, but the spine version emitted the
    # row and the oracle still does), and map the 1-byte group id back
    # to the output's column_name: a 7-row static left join.
    names = spark.createDataFrame(
        [(i, c) for i, c in enumerate(STATS_COLUMNS)],
        "cid int, column_name string",
    )
    from pyspark.sql import Window

    # all_rows via a window over the 7-row joined frame — NOT a second
    # aggregate branch off `folded`, which would re-execute the whole
    # corpus lineage for one number (measured: a full extra pass).
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    full = (
        names.join(F.broadcast(folded), "cid", "left")
        .withColumn(
            "all_rows",
            F.coalesce(F.max("n_rows").over(wall), F.lit(0)).cast("bigint"),
        )
        .select(
            "column_name",
            F.coalesce("n_rows", "all_rows").alias("n_rows"),
            (
                F.coalesce("n_rows", "all_rows")
                - F.coalesce(F.col("nn"), F.lit(0))
            ).alias("n_null"),
            F.coalesce("z", F.lit(float(HLL_M))).alias("z"),
            F.coalesce("reg_zeros", F.lit(HLL_M))
            .cast("bigint")
            .alias("reg_zeros"),
        )
    )
    est = full.withColumn(
        "raw_est",
        F.expr(
            f"CAST(floor({HLL_ALPHA} * CAST({HLL_M} AS DOUBLE)"
            f" * {HLL_M} / z) AS BIGINT)"
        ),
    )
    return est.select(
        "column_name",
        "n_rows",
        "n_null",
        F.expr(_hll_est_case("raw_est", "reg_zeros")).alias("ndv_est"),
        "reg_zeros",
    )


#: Columns profiled by src_table_histogram (the numeric measures a CBO
#: estimates range-predicate selectivity over) and the bucket count.
HIST_COLUMNS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
HIST_BUCKETS = 16


def _hist_bucket(v: str, mn: str, mx: str) -> str:
    """Dialect-neutral SQL: equi-width bucket of ``v`` over [mn, mx] —
    single multiply-then-divide so both engines run the identical IEEE
    double sequence; a degenerate domain (mx = mn) collapses to bucket
    0; v = mx lands in the top bucket via least()."""
    return (
        f"CAST(least(CASE WHEN {mx} = {mn} THEN 0 "
        f"ELSE floor(({v} - {mn}) * {HIST_BUCKETS} / ({mx} - {mn})) END, "
        f"{HIST_BUCKETS - 1}) AS BIGINT)"
    )


@register(
    "src_table_histogram",
    tier="T2",
    doc="ANALYZE histograms (round 16) — the selectivity half of the "
    "optimizer-stats pass (src_table_stats* cover NDV; range "
    f"predicates need distributions): {HIST_BUCKETS}-bucket equi-width "
    f"histograms over lineitem's {len(HIST_COLUMNS)} numeric measures, "
    "dense (every bucket emitted, zero-filled off a spine — a CBO "
    "reads histograms positionally) with integer-pinned bounds "
    "(bucket edges at 1e6, the psi_1e6 convention — no raw doubles in "
    "the graded surface).  Two passes by construction: bounds, then a "
    "single exploded scan whose (column, bucket) counts "
    "partial-aggregate map-side to a bounded "
    f"{len(HIST_COLUMNS)}x{HIST_BUCKETS} group set — at 100 TB the "
    "production variant reuses the PREVIOUS stats epoch's bounds and "
    "drops to one pass (stated; the two-pass form is the bootstrap).",
    oracle=f"""
WITH bounds AS (
  SELECT {', '.join(
     f'min({c}) AS mn_{i}, max({c}) AS mx_{i}'
     for i, c in enumerate(HIST_COLUMNS))}
  FROM lineitem
), bx AS (
  {' UNION ALL '.join(
     f"SELECT '{c}' AS column_name, mn_{i} AS mn, mx_{i} AS mx"
     " FROM bounds"
     for i, c in enumerate(HIST_COLUMNS))}
), v AS (
  {' UNION ALL '.join(
     f"SELECT '{c}' AS column_name, CAST({c} AS DOUBLE) AS v"
     f" FROM lineitem WHERE {c} IS NOT NULL"
     for c in HIST_COLUMNS)}
), b AS (
  SELECT v.column_name,
         {_hist_bucket('v.v', 'bx.mn', 'bx.mx')} AS bucket
  FROM v JOIN bx ON v.column_name = bx.column_name
), cnts AS (
  SELECT column_name, bucket, CAST(count(*) AS BIGINT) AS cnt
  FROM b GROUP BY 1, 2
), spine AS (
  SELECT c.column_name, s.bucket
  FROM (SELECT unnest({list(HIST_COLUMNS)!r}) AS column_name) c
  CROSS JOIN (SELECT unnest(range(0, {HIST_BUCKETS})) AS bucket) s
)
SELECT spine.column_name, CAST(spine.bucket AS BIGINT) AS bucket,
       CAST(floor((bx.mn + spine.bucket * (bx.mx - bx.mn)
                   / {HIST_BUCKETS}) * 1000000 + 0.5) AS BIGINT)
         AS lo_1e6,
       CAST(floor((bx.mn + (spine.bucket + 1) * (bx.mx - bx.mn)
                   / {HIST_BUCKETS}) * 1000000 + 0.5) AS BIGINT)
         AS hi_1e6,
       coalesce(cnts.cnt, 0) AS cnt
FROM spine
JOIN bx ON spine.column_name = bx.column_name
LEFT JOIN cnts ON spine.column_name = cnts.column_name
              AND spine.bucket = cnts.bucket
""",
)
def src_table_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    bounds = li.agg(
        *[
            f
            for i, c in enumerate(HIST_COLUMNS)
            for f in (
                F.min(c).alias(f"mn_{i}"),
                F.max(c).alias(f"mx_{i}"),
            )
        ]
    )
    bx = bounds.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"),
                        F.col(f"mn_{i}").cast("double").alias("mn"),
                        F.col(f"mx_{i}").cast("double").alias("mx"),
                    )
                    for i, c in enumerate(HIST_COLUMNS)
                ]
            )
        ).alias("b")
    ).select("b.*")
    structs = ", ".join(
        f"struct('{c}' AS column_name, "
        f"{_hist_bucket(f'CAST({c} AS DOUBLE)', f'mn_{i}', f'mx_{i}')}"
        " AS bucket)"
        for i, c in enumerate(HIST_COLUMNS)
    )
    cnts = (
        li.crossJoin(F.broadcast(bounds))
        .select(F.explode(F.expr(f"array({structs})")).alias("x"))
        .select("x.column_name", "x.bucket")
        .where(F.col("bucket").isNotNull())
        .groupBy("column_name", "bucket")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    names = spark.createDataFrame(
        [(c,) for c in HIST_COLUMNS], "column_name string"
    )
    spine = names.crossJoin(
        spark.range(0, HIST_BUCKETS).select(F.col("id").alias("bucket"))
    )
    edge = "(mn + {k} * (mx - mn) / " + str(HIST_BUCKETS) + ")"
    return (
        spine.join(F.broadcast(bx), "column_name")
        .join(cnts, ["column_name", "bucket"], "left")
        .select(
            "column_name",
            "bucket",
            F.expr(
                f"CAST(floor({edge.format(k='bucket')} * 1000000 + 0.5)"
                " AS BIGINT)"
            ).alias("lo_1e6"),
            F.expr(
                f"CAST(floor({edge.format(k='(bucket + 1)')} * 1000000"
                " + 0.5) AS BIGINT)"
            ).alias("hi_1e6"),
            F.coalesce(F.col("cnt"), F.lit(0)).cast("bigint").alias("cnt"),
        )
    )


Z_BITS = 8  # per-dimension resolution of the z-value (16-bit curve)
Z_BUCKETS = 64  # clustered write buckets (z DIV 1024)
#: The pruning probe: a query box in NORMALIZED (u8, d8) coordinates —
#: "one quarter of the user range × one quarter of the day range".
Z_BOX = (64, 95)


def _z_interleave(u: str, d: str) -> str:
    """SQL for the Morton interleave of two 8-bit coords — pure integer
    arithmetic ((x DIV 2^i) % 2 bit probes, shifted by powers of two),
    identical token-for-token in Spark SQL and DuckDB (both spell
    integer division DIV/// — the caller passes the dialect-neutral
    form through spark_dialect for the oracle)."""
    terms = []
    for i in range(Z_BITS):
        terms.append(f"(({u} DIV {1 << i}) % 2) * {1 << (2 * i + 1)}")
        terms.append(f"(({d} DIV {1 << i}) % 2) * {1 << (2 * i)}")
    return " + ".join(terms)


@register(
    "src_zorder_layout",
    tier="T2",
    doc="Z-order (Morton) clustering audit — the two-dimensional "
    "complement of src_zonemap_profile and the layout decision a "
    "100 TB table with TWO hot predicate columns needs: events map "
    f"(user_id, day) onto a {Z_BITS}-bit-per-dim Morton curve "
    "(min/max bounds attach as a 1-row broadcast; the interleave is "
    f"pure integer arithmetic in codegen), cluster into {Z_BUCKETS} "
    "z-buckets, and each bucket reports its NORMALIZED envelope, the "
    "envelope area (the zone-map tightness both dimensions share — "
    "z-order keeps it near area/buckets where a single-column sort "
    "degenerates to full-width stripes), and whether the standard "
    f"quarter×quarter probe box [{Z_BOX[0]}, {Z_BOX[1]}]² could skip "
    "the bucket outright.  Scale shape: one 1-row bounds aggregate, "
    "one projection, one hash aggregate to a bounded bucket table — "
    "the same footer-stats derivation as the zonemap profile.",
    oracle=f"""
WITH b AS (
  SELECT user_id, epoch_ms(ts) // 86400000 AS day FROM events
), bounds AS (
  SELECT min(user_id) AS u0, max(user_id) AS u1,
         min(day) AS d0, max(day) AS d1
  FROM b
), n AS (
  SELECT (user_id - u0) * 256 // (u1 - u0 + 1) AS u8,
         (day - d0) * 256 // (d1 - d0 + 1) AS d8
  FROM b CROSS JOIN bounds
), z AS (
  SELECT u8, d8, ({_z_interleave("u8", "d8").replace("DIV", "//")})
           // {65536 // Z_BUCKETS} AS zbucket
  FROM n
)
SELECT zbucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(u8) AS BIGINT) AS min_u8,
       CAST(max(u8) AS BIGINT) AS max_u8,
       CAST(min(d8) AS BIGINT) AS min_d8,
       CAST(max(d8) AS BIGINT) AS max_d8,
       CAST((max(u8) - min(u8) + 1) * (max(d8) - min(d8) + 1)
            AS BIGINT) AS env_area,
       CAST(max(u8) < {Z_BOX[0]} OR min(u8) > {Z_BOX[1]}
            OR max(d8) < {Z_BOX[0]} OR min(d8) > {Z_BOX[1]} AS INT)
         AS skippable
FROM z GROUP BY zbucket
""",
)
def src_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.expr("ms DIV 86400000").alias("day")
    )
    n = ev.crossJoin(F.broadcast(zorder_bounds(spark, sf_dir))).select(
        F.expr(ZORDER_U8_EXPR).alias("u8"),
        F.expr(ZORDER_D8_EXPR).alias("d8"),
    )
    z = n.select("u8", "d8", F.expr(zbucket_expr()).alias("zbucket"))
    return z.groupBy("zbucket").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.min("u8").cast("bigint").alias("min_u8"),
        F.max("u8").cast("bigint").alias("max_u8"),
        F.min("d8").cast("bigint").alias("min_d8"),
        F.max("d8").cast("bigint").alias("max_d8"),
        F.expr(
            "CAST((max(u8) - min(u8) + 1) * (max(d8) - min(d8) + 1)"
            " AS BIGINT)"
        ).alias("env_area"),
        F.expr(
            f"CAST(max(u8) < {Z_BOX[0]} OR min(u8) > {Z_BOX[1]}"
            f" OR max(d8) < {Z_BOX[0]} OR min(d8) > {Z_BOX[1]} AS INT)"
        ).alias("skippable"),
    )


#: The z-order READ probe box in normalized (u8, d8) coordinates —
#: deliberately NOT dyadic-aligned (unlike Z_BOX, which covers exactly
#: one z-bucket) so the bucket intersection below exercises the general
#: Morton range decomposition: [48, 131]² intersects 16 of the 64
#: z-buckets (brute-force decode, asserted in tests/test_zorder_read.py).
ZREAD_BOX = (48, 131)


#: Memo for _zread_buckets — MODULE level, not a decorator inside the
#: function body (an inner lru_cache is rebuilt per call, silently
#: re-running the 65 536-code decode loop on every plan build — caught
#: in the round-14 self-review).
_ZREAD_BUCKETS_MEMO: list[int] = []


def _zread_buckets() -> list[int]:
    """Z-buckets the ZREAD_BOX can intersect — the file-skipping list a
    z-ordered layout's metadata answers for every probe box.

    Brute-force decode of all 2^(2·Z_BITS) Morton codes (65 536 — a
    CONSTANT independent of data scale, evaluated once per process at
    plan-build time; production layouts use the BIGMIN/LITMAX range
    decomposition for wider curves, which yields the same set)."""
    if not _ZREAD_BUCKETS_MEMO:
        lo, hi = ZREAD_BOX
        cell = 65536 // Z_BUCKETS
        keep = set()
        for z in range(65536):
            u = d = 0
            for i in range(Z_BITS):
                d |= ((z >> (2 * i)) & 1) << i
                u |= ((z >> (2 * i + 1)) & 1) << i
            if lo <= u <= hi and lo <= d <= hi:
                keep.add(z // cell)
        _ZREAD_BUCKETS_MEMO.extend(sorted(keep))
    return list(_ZREAD_BUCKETS_MEMO)


#: The (u8, d8) normalization over (user_id, day, u0, u1, d0, d1) and
#: the bucket-from-coordinates expression — THE single definition of
#: the z-layout recipe: the batch writer (_zordered_events) and the
#: streaming ingest router (streaming.twins.twin_zorder_route) both
#: compose these, so the layout a stream lands rows into cannot fork
#: from the layout the batch rewrite produces.
ZORDER_U8_EXPR = "(user_id - u0) * 256 DIV (u1 - u0 + 1)"
ZORDER_D8_EXPR = "(day - d0) * 256 DIV (d1 - d0 + 1)"


def zbucket_expr() -> str:
    """Morton z-bucket from normalized (u8, d8) columns."""
    return f"({_z_interleave('u8', 'd8')}) DIV {65536 // Z_BUCKETS}"


def zorder_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-row (u0, u1, d0, d1) normalization bounds of the z-layout —
    the broadcastable 'model' a serving-tier router needs to place an
    arriving row in the batch-written layout."""
    return (
        table(spark, sf_dir, "events")
        .select("user_id", F.expr("ms DIV 86400000").alias("day"))
        .agg(
            F.min("user_id").alias("u0"),
            F.max("user_id").alias("u1"),
            F.min("day").alias("d0"),
            F.max("day").alias("d1"),
        )
    )


def _zordered_events(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per fixture dir) a Z-ORDER-CLUSTERED copy of
    events under ``<repo>/.cache``: rows carry their normalized (u8, d8)
    coordinates and land in hive directories keyed by their Morton
    z-bucket — the layout src_zorder_layout's audit scores, actually
    written so a reader can prune on it.  ``repartition(zbucket)`` keeps
    the writer at one task per bucket (no small-file fan-out).

    Cache key = _fixture_tag (basename + content fingerprint, the
    round-7 convention), NOT basename alone — a regenerated fixture or
    a second dir sharing a basename would otherwise serve a clustered
    copy normalized with STALE bounds while the oracle recomputes from
    the live table (round-14 review finding).  The write root honors
    ``SPARK_GRAFT_LAYOUT_CACHE`` so bench.py's fresh-cache regime can
    redirect it and pay the rewrite (the build-inclusive contract)."""
    import os

    from scala_reactivex_spark.operators.llm_extras import layout_dir

    out = layout_dir("events_zorder", sf_dir, "events")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        ev = table(spark, sf_dir, "events").select(
            "event_id",
            "event_type",
            "value",
            "user_id",
            F.expr("ms DIV 86400000").alias("day"),
        )
        n = ev.crossJoin(
            F.broadcast(zorder_bounds(spark, sf_dir))
        ).select(
            "event_id",
            "event_type",
            "value",
            F.expr(ZORDER_U8_EXPR).alias("u8"),
            F.expr(ZORDER_D8_EXPR).alias("d8"),
        )
        z = n.withColumn("zbucket", F.expr(zbucket_expr()))
        (
            z.repartition("zbucket")
            .write.mode("overwrite")
            .partitionBy("zbucket")
            .parquet(out)
        )
    return out


@register(
    "src_zorder_read",
    tier="T2",
    doc="Z-order clustering PROMOTED from audit to layout (r13 verdict "
    "#6): events are physically rewritten into Morton z-bucket hive "
    "partitions (written once, _zordered_events), and the standard "
    f"probe box {ZREAD_BOX}² scans ONLY the "
    "z-buckets whose Morton range intersects the box — 16 of "
    f"{Z_BUCKETS} buckets (75% of the layout pruned by "
    "PartitionFilters before any file opens; "
    "tests/test_zorder_read.py asserts the executed file set).  The "
    "residual exact (u8, d8) predicate then filters inside the kept "
    "buckets, so the bucket IN-list only ever widens the result — the "
    "oracle recomputes from the UNCLUSTERED table and equality proves "
    "the pruning set is a lossless superset.  Scale shape: this is "
    "the two-hot-column analog of src_partition_prune — at 100 TB the "
    "bucket list turns a full scan into a 25% scan with zero shuffle; "
    "the intersection list is a 65 536-code constant, not data.",
    oracle=f"""
WITH b AS (
  SELECT event_type, value, user_id,
         epoch_ms(ts) // 86400000 AS day
  FROM events
), bounds AS (
  SELECT min(user_id) AS u0, max(user_id) AS u1,
         min(day) AS d0, max(day) AS d1
  FROM b
), n AS (
  SELECT event_type, value,
         (user_id - u0) * 256 // (u1 - u0 + 1) AS u8,
         (day - d0) * 256 // (d1 - d0 + 1) AS d8
  FROM b CROSS JOIN bounds
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 4)
         AS total_value
FROM n
WHERE u8 BETWEEN {ZREAD_BOX[0]} AND {ZREAD_BOX[1]}
  AND d8 BETWEEN {ZREAD_BOX[0]} AND {ZREAD_BOX[1]}
GROUP BY event_type
""",
)
def src_zorder_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scala_reactivex_spark.functions.determinism import dsum

    lo, hi = ZREAD_BOX
    ev = spark.read.parquet(_zordered_events(spark, sf_dir))
    return (
        ev.where(F.col("zbucket").isin(_zread_buckets()))
        .where(F.col("u8").between(lo, hi) & F.col("d8").between(lo, hi))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            dsum("value").alias("total_value"),
        )
    )


#: The three probe shapes of the layout comparison: a quarter-range on
#: the sorted-first column only, on the second column only, and on both
#: (the Z_BOX quarter×quarter).  (probe, u_lo, u_hi, d_lo, d_hi).
ZCMP_PROBES = (
    ("u_quarter", 64, 95, 0, 255),
    ("d_quarter", 0, 255, 64, 95),
    ("both", 64, 95, 64, 95),
)


@register(
    "src_zorder_compare",
    tier="T2",
    doc="Layout decision table: z-order vs single-column sort, graded. "
    f"events map to normalized (u8, d8) and cluster into {Z_BUCKETS} "
    "write buckets under BOTH layouts — the Morton z-bucket and the "
    "user-sorted stripe (u8 DIV 4) — and each layout reports, for "
    "three probe shapes (first-column quarter, second-column quarter, "
    "quarter×quarter box), how many buckets its zone-map envelopes "
    "can SKIP.  This pins the src_zorder_layout docstring's claim "
    "with a number: the single-column sort skips ~3/4 of buckets on "
    "ITS column and ZERO on the other, while z-order skips on both — "
    "the decision a 100 TB table with two hot predicate columns makes "
    "from exactly this table.  Scale shape: one bounds broadcast, one "
    "projection, two bounded bucket aggregates, a 6-row rollup.",
    oracle=f"""
WITH b AS (
  SELECT user_id, epoch_ms(ts) // 86400000 AS day FROM events
), bounds AS (
  SELECT min(user_id) AS u0, max(user_id) AS u1,
         min(day) AS d0, max(day) AS d1
  FROM b
), n AS (
  SELECT (user_id - u0) * 256 // (u1 - u0 + 1) AS u8,
         (day - d0) * 256 // (d1 - d0 + 1) AS d8
  FROM b CROSS JOIN bounds
), z AS (
  SELECT 'zorder' AS layout,
         ({_z_interleave("u8", "d8").replace("DIV", "//")})
           // {65536 // Z_BUCKETS} AS bucket,
         u8, d8
  FROM n
  UNION ALL
  SELECT 'usort', u8 // {256 // Z_BUCKETS}, u8, d8 FROM n
), env AS (
  SELECT layout, bucket,
         min(u8) AS mu, max(u8) AS xu,
         min(d8) AS md, max(d8) AS xd
  FROM z GROUP BY layout, bucket
), probes AS (
  SELECT * FROM (VALUES {", ".join(repr(p).replace('"', "'") for p in ZCMP_PROBES)})
         t(probe, u_lo, u_hi, d_lo, d_hi)
)
SELECT layout, probe,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(count(*) FILTER (WHERE xu < u_lo OR mu > u_hi
                                OR xd < d_lo OR md > d_hi) AS BIGINT)
         AS n_skippable,
       CAST(count(*) FILTER (WHERE xu < u_lo OR mu > u_hi
                                OR xd < d_lo OR md > d_hi) * 10000
            // count(*) AS BIGINT) AS skip_1e4
FROM env CROSS JOIN probes
GROUP BY layout, probe
""",
)
def src_zorder_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = (
        table(spark, sf_dir, "events")
        .select("user_id", F.expr("ms DIV 86400000").alias("day"))
        .crossJoin(F.broadcast(zorder_bounds(spark, sf_dir)))
        .select(
            F.expr(ZORDER_U8_EXPR).alias("u8"),
            F.expr(ZORDER_D8_EXPR).alias("d8"),
        )
    )
    z = n.select(
        F.lit("zorder").alias("layout"),
        F.expr(zbucket_expr()).alias("bucket"),
        "u8",
        "d8",
    ).unionAll(
        n.select(
            F.lit("usort").alias("layout"),
            F.expr(f"u8 DIV {256 // Z_BUCKETS}").alias("bucket"),
            "u8",
            "d8",
        )
    )
    env = z.groupBy("layout", "bucket").agg(
        F.min("u8").alias("mu"),
        F.max("u8").alias("xu"),
        F.min("d8").alias("md"),
        F.max("d8").alias("xd"),
    )
    probes = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(p).alias("probe"),
                    F.lit(ul).alias("u_lo"),
                    F.lit(uh).alias("u_hi"),
                    F.lit(dl).alias("d_lo"),
                    F.lit(dh).alias("d_hi"),
                )
                for p, ul, uh, dl, dh in ZCMP_PROBES
            ]
        )
    )
    skippable = (
        (F.col("xu") < F.col("u_lo"))
        | (F.col("mu") > F.col("u_hi"))
        | (F.col("xd") < F.col("d_lo"))
        | (F.col("md") > F.col("d_hi"))
    )
    return (
        env.select("*", probes.alias("p"))
        .select("layout", "p.*", "mu", "xu", "md", "xd")
        .groupBy("layout", "probe")
        .agg(
            F.count("*").cast("bigint").alias("n_buckets"),
            F.count(F.when(skippable, 1))
            .cast("bigint")
            .alias("n_skippable"),
            F.expr(
                "CAST(count(CASE WHEN xu < u_lo OR mu > u_hi"
                " OR xd < d_lo OR md > d_hi THEN 1 END) * 10000"
                " DIV count(*) AS BIGINT)"
            ).alias("skip_1e4"),
        )
    )
