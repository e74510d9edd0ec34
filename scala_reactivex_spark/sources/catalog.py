"""Catalog layer: parquet table access with canonical derived columns.

The fixture schemas are documented in FIXTURES.md; the engine never infers
beyond the parquet footer and normalizes time once, here, so every operator
downstream sees the same deterministic columns:

``events`` (the Observable[T] stand-in, SURVEY.md §1.2):
- ``ts``   bigint — raw nanosecond epoch. Parquet TIMESTAMP(NANOS) fixtures
  read as bigint under ``spark.sql.legacy.parquet.nanosAsLong=true``;
  TIMESTAMP(MICROS) fixtures read as timestamp and are converted to
  bigint ns here (``_normalize_events``). Used as the primary sort
  key together with ``event_id`` (total order — SURVEY.md §2.11.4).
- ``tsm``  timestamp — microsecond truncation (``ts div 1000``), for Spark's
  native time windowing (window / session_window / watermarks).
- ``ms``   bigint — millisecond truncation (``ts div 1_000_000``), the ONLY
  time representation ever emitted in query output (≡ DuckDB ``epoch_ms``).

Relation cache: ``spark.read.parquet`` on a path without a given schema
launches one Spark job to read the footer schema, and it re-lists the
files and re-analyses the plan, at ~100-140 ms per call on a warm 4-core
session — more than many queries spend executing.  ``table()`` therefore
resolves each table once per session and hands back the same normalised
DataFrame while the file is unchanged (DataFrames are immutable, so
sharing one is safe).  An entry is keyed on the session object itself,
not its applicationId, so a frame is never served to another session
(``newSession()`` shares the application), and the cache lives on the
session, so entries die with it.  Each entry carries the table's stat
signature — ``(st_size, st_mtime_ns)`` for a file, a recursive
fingerprint for a directory — and a lookup whose signature changed
(fixture regenerated, even within one second) re-reads and replaces
the entry.  A path that cannot be stat'ed (a remote URI) is never
cached: its staleness cannot be seen.

Scale note: at 100 TB the same loader works over partitioned datasets —
reads are plain ``spark.read.parquet`` so partition pruning / predicate
pushdown apply; no collect, and one schema inference job per table and
session.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scala_reactivex_spark.plans.memo import _dir_fingerprint
from scala_reactivex_spark.session import configure_session

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: The five observed event_type values (FIXTURES.md) — derived streams.
EVENT_TYPES = ("click", "purchase", "error", "signup", "view")


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table with canonical derived columns, resolved
    once per session and file state (see the module docstring)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    configure_session(spark)
    src = f"{sf_dir}/{name}.parquet"
    path = os.path.abspath(src)
    sig = _stat_signature(path)
    # No lock: two threads missing together each read once, and every
    # stored entry holds a frame read after its signature was taken, so
    # a lost race costs one extra read, never a stale frame.
    cache = spark.__dict__.setdefault("_catalog_relations", {})
    hit = cache.get(path)
    if sig is not None and hit is not None and hit[0] == sig:
        return hit[1]
    df = spark.read.parquet(src)
    if name == "events":
        df = _normalize_events(df)
    elif name in _DATE_COLS:
        df = _normalize_dates(df, _DATE_COLS[name])
    if sig is not None:
        cache[path] = (sig, df)
    return df


def _stat_signature(path: str) -> tuple | None:
    """What changes when a table is rewritten: ``(st_size,
    st_mtime_ns)`` of a file, the recursive content fingerprint of a
    directory; None when the path cannot be stat'ed (a remote URI)."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if stat.S_ISDIR(st.st_mode):
        return ("dir", _dir_fingerprint(path))
    return (st.st_size, st.st_mtime_ns)


#: Date-valued columns whose parquet type has changed between fixture
#: generations (events.ts did in round 6) — pin them to timestamp_ntz so
#: every operator and oracle comparison sees one type regardless of
#: whether the driver ships DATE, TIMESTAMP or TIMESTAMP_NTZ.
_DATE_COLS = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def _normalize_dates(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    """Cast each date-ish column to timestamp_ntz (midnight for DATE,
    same wall clock for TIMESTAMP under the UTC session timezone)."""
    dtypes = dict(df.dtypes)
    for c in cols:
        if dtypes.get(c) != "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp_ntz"))
    return df


def _normalize_events(df: DataFrame) -> DataFrame:
    """Derive the canonical (ts bigint-ns, tsm timestamp, ms bigint) columns.

    Fixture generations differ in the parquet type of ``ts``: TIMESTAMP(NANOS)
    arrives as bigint under ``nanosAsLong`` (the documented contract), while
    TIMESTAMP(MICROS) arrives as timestamp/timestamp_ntz.  Normalize the
    latter to bigint nanoseconds so every downstream operator (and the
    streaming twins' BIGINT state schemas) sees one representation.  The
    NTZ→instant cast happens under the UTC session timezone
    (configure_session), matching DuckDB's naive-timestamp ``epoch_ms``.
    """
    if dict(df.dtypes)["ts"] != "bigint":
        df = df.withColumn(
            "ts",
            (F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)).cast(
                "bigint"
            ),
        )
    # Integer division keeps the full int64 — ns values (~1.7e18) exceed
    # double's 53-bit mantissa, so a float path would corrupt timestamps.
    return df.withColumn(
        "tsm", F.timestamp_micros(F.expr("ts div 1000"))
    ).withColumn("ms", F.expr("ts div 1000000"))


def widen_scan(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Scale-ADAPTIVE scan widening for per-row-expensive pipelines
    (optimization guide §2: derive partitioning from the input, never a
    constant).

    The fixture tables are single parquet files with one row group, so a
    scan yields 1-3 partitions and every downstream per-row stage (hash
    folds, Expand, explode, aggregate buffers) runs on ONE core of the
    local[N] box regardless of N.  At 100 TB the same scan has thousands
    of row groups and needs no help — so this helper round-robins the
    rows across ``defaultParallelism`` partitions ONLY when the scan
    itself produced fewer, and is a no-op otherwise.  The repartition is
    an explicit-N shuffle (AQE never coalesces REPARTITION_BY_NUM), and
    the caller is expected to ``select()`` down to the needed columns
    FIRST so the widening exchange moves the minimum bytes (guide §2.3).
    Because the trigger is the estimated scan partition count under the
    calling session's parallelism, the driver's lower-core bench run
    widens to ITS parallelism, keeping the core-scaling measurement
    honest.

    Round 18 (r17 ADVICE): the trigger used to probe
    ``df.rdd.getNumPartitions()``, which forces a full analysis +
    physical-planning pass plus a JVM RDD conversion boundary on EVERY
    call just to read a partition count.  The count is now ESTIMATED
    from file metadata alone (``df.inputFiles()`` sizes + the
    ``spark.sql.files.*`` split-packing formula) — no planning pass, no
    RDD conversion.  When sizes are unavailable (non-local URIs, i.e. a
    real cluster over object storage) the helper is a NO-OP: that is
    the 100 TB posture where scans are already wide and widening was
    never wanted.  Note the widened layout is frozen into any
    session-memoized / persisted consumer built through it — the first
    caller's parallelism is baked into the cached lineage (documented
    contract; within one session defaultParallelism is fixed, and the
    disk-memo tier re-applies its own layout on read-back).
    """
    target = spark.sparkContext.defaultParallelism
    est = _est_scan_partitions(df, spark, target)
    if est is not None and est < target:
        return df.repartition(target)
    return df


def _size_conf_bytes(spark: SparkSession, key: str, default: int) -> int:
    """Read a Spark size conf (values like '128MB', '4194304b') as bytes."""
    raw = str(spark.conf.get(key, str(default))).strip().lower()
    mult = 1
    for suf, m in (
        ("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
        ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("b", 1),
    ):
        if raw.endswith(suf):
            raw = raw[: -len(suf)]
            mult = m
            break
    try:
        return int(float(raw) * mult)
    except ValueError:
        return default


def _est_scan_partitions(
    df: DataFrame, spark: SparkSession, parallelism: int
) -> int | None:
    """Estimate how many scan partitions the file source would produce,
    from file metadata only (Spark's split-packing formula: each file is
    charged ``openCostInBytes`` and sliced/packed into bins of
    ``maxSplitBytes = min(maxPartitionBytes, max(openCost,
    total/parallelism))``).  Returns None — meaning "don't widen" —
    when any input is not a stat-able local file."""
    import os
    from urllib.parse import unquote, urlparse

    try:
        files = df.inputFiles()
    except Exception:
        return None
    sizes: list[int] = []
    for uri in files:
        if uri.startswith("file:"):
            path = unquote(urlparse(uri).path)
        elif "://" not in uri:
            path = uri
        else:
            return None
        try:
            sizes.append(os.stat(path).st_size)
        except OSError:
            return None
    if not sizes:
        # Not a file scan at all (LocalRelation, range, ...): widening
        # was only ever meant for file scans — leave it alone.
        return None
    open_cost = _size_conf_bytes(
        spark, "spark.sql.files.openCostInBytes", 4 * 1024 * 1024
    )
    max_part = _size_conf_bytes(
        spark, "spark.sql.files.maxPartitionBytes", 128 * 1024 * 1024
    )
    total = sum(s + open_cost for s in sizes)
    max_split = min(max_part, max(open_cost, total // max(parallelism, 1)))
    return max(1, -(-total // max(max_split, 1)))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (canonical derived
    columns included), so users can drive the engine with raw
    ``spark.sql`` — the same table names the DuckDB oracles use.  Views
    are lazy: registration costs one footer read per table and session
    (none once ``table()`` has resolved it), and Catalyst
    still pushes filters/prunes columns through them (asserted in
    tests/test_api.py)."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


def load(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every fixture table (used by bench / exploratory sessions)."""
    return {name: table(spark, sf_dir, name) for name in TABLES}


def events_stream(spark: SparkSession, sf_dir: str, event_type: str) -> DataFrame:
    """A derived stream: ``events`` filtered to one event_type.

    These model the reference's independently subscribable Observables
    (purchases/clicks/signups/errors/views) used by combinator operators.
    """
    return table(spark, sf_dir, "events").where(F.col("event_type") == event_type)
