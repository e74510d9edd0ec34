"""Session-scoped memoization for expensive shared index builds.

Several graded operators compose the same internal index (the IVF
centroid assignment feeds ``llm_ann_ivf`` / ``llm_ann_ivf_mp`` /
``llm_ivf_stats`` / ``llm_ann_recall``; the k-means assignment feeds
``llm_kmeans`` / ``llm_semdedup``; the PQ codebooks feed ``llm_ann_pq``
/ ``llm_pq_recall``).  Un-memoized, every consumer rebuilds the index —
and builders that ``persist()`` intermediates leak one cached copy per
invocation into executor storage (round-7 ADVICE on ``llm_semdedup``).

``session_memo`` builds once per (SparkSession application, fixture
dir, index name) and returns the same object — typically a tuple of
DataFrames whose expensive members are persisted exactly once.  This is
the in-memory twin of the on-disk bucketed-table cache
(operators/llm_extras._bucketed_table): production would persist the
index as a table; within one session the persisted lineage IS that
table.

Correctness note: memoization keys on a CONTENT FINGERPRINT of the
fixture directory (size + mtime of every parquet file, the same
``_fixture_tag`` scheme the on-disk caches use) — so a fixture
regenerated mid-session misses the cache and rebuilds instead of
serving stale persisted frames (round-8 ADVICE).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import threading
from collections.abc import Callable
from typing import TypeVar

T = TypeVar("T")

_CACHE: dict[tuple[str, str, str, str], object] = {}
#: Guards _CACHE: builders persist() frames, so a double-build under
#: concurrent callers (a serving twin and a batch query sharing an
#: index) would leak one pinned copy per racer.  One lock per process
#: is enough — builds are lazy DataFrame construction (cheap), the
#: expensive materialization happens later on the executors.  RLock
#: because builders NEST (e.g. the winnowing inverted index builds on
#: the memoized fingerprint frame).
_LOCK = threading.RLock()


def _dir_fingerprint(sf_dir: str) -> str:
    """8-hex content fingerprint of a fixture dir: sf_dir-RELATIVE path,
    size, and NANOSECOND mtime of every file under it (recursive,
    order-stable).  Relative paths (not bare filenames) distinguish a
    file moved between subdirectories; ``st_mtime_ns`` (not whole
    seconds) distinguishes a same-size regeneration within one second
    (round-9 ADVICE)."""
    parts: list[str] = []
    for root_, _dirs, files in sorted(os.walk(sf_dir)):
        for fn in sorted(files):
            full = os.path.join(root_, fn)
            try:
                st = os.stat(full)
            except OSError:
                continue
            rel = os.path.relpath(full, sf_dir)
            parts.append(f"{rel}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:8]


def session_memo(spark, sf_dir: str, name: str, builder: Callable[[], T]) -> T:
    """Return the memoized ``builder()`` result for this (session,
    fixture dir content, name), building it on first use.

    A cache MISS caused by a changed fingerprint (fixture regenerated
    mid-session) evicts — and unpersists — any prior generation's entry
    for the same (application, dir, name) before building, so repeated
    regeneration (probe scripts, test loops) cannot accumulate pinned
    executor storage referencing overwritten parquet files (round-9
    ADVICE)."""
    app = spark.sparkContext.applicationId
    path = os.path.abspath(sf_dir)
    fp = _dir_fingerprint(sf_dir)
    key = (app, path, fp, name)
    with _LOCK:
        if key not in _CACHE:
            stale = [
                k
                for k in _CACHE
                if k[0] == app and k[1] == path and k[3] == name and k[2] != fp
            ]
            for k in stale:
                _unpersist_quietly(_CACHE.pop(k))
            _CACHE[key] = builder()
        return _CACHE[key]  # type: ignore[return-value]


#: Default root of the parquet-backed index-cache tier.  Lives under the
#: (gitignored) warehouse dir next to this package's repo root; override
#: with SPARK_GRAFT_INDEX_CACHE (e.g. a per-test tmp dir, or a shared
#: filesystem path on a real cluster).
def _default_cache_root() -> str:
    env = os.environ.get("SPARK_GRAFT_INDEX_CACHE")
    if env:
        return env
    repo = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    return os.path.join(repo, "spark-warehouse", "index_cache")


#: Segments after ``{name}@{fixture dir basename}`` in the on-disk name
#: of one index generation: ``-{fp8}-{tag8}``, legacy (pre-round-12)
#: ``-{fp8}``; fp8 is 8-hex, tag8 8-hex or the literal 'nosrc000'.
_GEN_SUFFIX = r"-[0-9a-f]{8}(-([0-9a-f]{8}|nosrc000))?"


def finished_indexes(sf_dir: str) -> int:
    """How many finished disk-memo indexes the cache root holds for
    this fixture directory — those scoped ``@<basename(sf_dir)>-``,
    not other fixtures' (a dashed basename like ``fx-a`` is told apart
    from ``fx`` by the segment shape, as the prune does)."""
    root = _default_cache_root()
    if not os.path.isdir(root):
        return 0
    gen = re.compile(
        r"[^@]+@"
        + re.escape(os.path.basename(os.path.abspath(sf_dir)))
        + _GEN_SUFFIX
    )
    return sum(
        1
        for d in os.listdir(root)
        if gen.fullmatch(d)
        and os.path.exists(os.path.join(root, d, "_COMPLETE"))
    )


#: Per-process disk-tier observability: how many disk_memo lookups were
#: served from a finished on-disk index (hits) vs ran the builder
#: (misses), plus in-memory session_memo short-circuits (session_hits).
#: bench.py records a snapshot per run so a "cold" pass that actually
#: read cached indexes back is distinguishable from a build-inclusive
#: one (round-11 ADVICE).
DISK_MEMO_STATS = {"hits": 0, "misses": 0, "session_hits": 0}


#: Per-file source-hash cache for :func:`_builder_src_tag`.  Keyed by
#: PATH ONLY and pinned for the process lifetime: the running code was
#: imported from the file's state near process start, so the FIRST hash
#: is the one that describes the loaded builders.  Re-hashing on a
#: mid-process disk edit would be wrong in the dangerous direction — a
#: build executed by the already-loaded pre-edit code would be labeled
#: with the post-edit tag and served to future post-edit sessions
#: (round-12 review).  A reloaded module (test loops via
#: importlib from a rewritten file) still gets a fresh tag because the
#: rewritten file lives at the same path only in the same process —
#: tests that need per-rewrite tags use distinct paths or processes.
_SRC_TAGS: dict[str, str] = {}


def _builder_src_tag(builder: Callable) -> str:
    """8-hex hash of the builder's DEFINING SOURCE FILE — the version
    token in the on-disk cache name.  Any edit to the module that
    defines a disk-tiered builder (minhash_pairs, ivf_learned, ...)
    changes the tag and deterministically invalidates that builder's
    disk tier, so a code change can never silently serve the stale
    pre-edit index across sessions (round-11 ADVICE).  Hashing the whole
    file over-invalidates (a comment edit rebuilds the index) — the safe
    direction, and builds are one-time per fixture.  Known limit,
    accepted: the tag covers the DEFINING file only — an edit to a
    transitive dependency (a helper in another module) does not change
    it; cross-module refactors of builder internals should touch the
    defining module (they essentially always do) or clear the cache
    dir."""
    import inspect

    try:
        path = inspect.getsourcefile(builder) or inspect.getfile(builder)
    except TypeError:
        return "nosrc000"
    if path not in _SRC_TAGS:
        try:
            with open(path, "rb") as f:
                _SRC_TAGS[path] = hashlib.md5(f.read()).hexdigest()[:8]
        except OSError:
            return "nosrc000"
    return _SRC_TAGS[path]


def disk_memo(
    spark,
    sf_dir: str,
    name: str,
    builder: Callable[[], T],
    load_layout: Callable[[int, "object"], "object"] | None = None,
) -> T:
    """Two-tier memo for index builds whose value is a tuple of
    DataFrames: the in-memory :func:`session_memo` backed by a
    PARQUET-ON-DISK tier keyed by the same fixture-content fingerprint.

    First build for a given (fixture content, name) ANYWHERE writes each
    element of the tuple under ``<cache>/<name>-<fp>/partN`` plus a
    ``_COMPLETE`` marker (written to a temp dir and renamed, so a crash
    mid-write never leaves a readable half-index); every later SESSION
    reads the finished index back instead of re-running the build — a
    real serving tier's posture, where the IVF/PQ/k-means index is a
    stored table that survives restarts (round-9 verdict #7).  Builders
    are deterministic (DECIMAL-exact means, integer pinning), so the
    read-back frames are value-identical to a fresh build — the
    correctness hashes cannot move.  Stale generations of the same name
    (different fingerprint or builder version) are pruned on write —
    scoped to the SAME fixture directory (the on-disk name carries the
    dir basename), so a verify run at sf0.01 cannot evict the bench's
    sf0.1 index or a probe's sf10 one.

    The on-disk name also carries a BUILDER VERSION TOKEN (a hash of
    the builder's defining source file, :func:`_builder_src_tag`)
    alongside the fixture fingerprint, so editing a builder's module
    invalidates its disk tier deterministically instead of silently
    serving the stale pre-edit index across sessions (round-11
    ADVICE).

    ``load_layout`` (round 18): optional ``(part_index, df) -> df``
    applied to each frame on the READ-BACK path before it persists.  A
    plain parquet read of a small finished index packs into 1-2 input
    splits (32 tiny files x 4 MB open-cost fit one 128 MB split), so
    every downstream consumer of the persisted frame — including joins
    that fan each index row out corpus-wide — inherits near-serial
    parallelism (the same single-split pathology widen_scan fixes for
    fixture scans, r17).  Builders that lay their output out for a
    reason (e.g. bm25_contrib hash-partitioned by doc_id so scoring
    aggregates shuffle-free) pass the SAME layout here so read-back
    sessions see the layout the building session had; value-identity is
    untouched (repartitioning never changes rows).

    Marker format: the ``_COMPLETE`` file's first line is the builder's
    container shape and part count (``tuple:N``, ``list:N`` or
    ``scalar:1``), so a ``(df,)`` builder round-trips as a 1-tuple and a
    list as a list.  It is followed by one line per part holding that
    part's schema JSON as a parquet read infers it (every field, array
    element and map value nullable).  Read-back passes that schema to
    ``spark.read.schema(...)``, which skips the schema-inference job a
    bare ``spark.read.parquet`` launches per part; the data is still
    read from disk, persisted and counted.  A marker without schema
    lines (written before they existed) still loads, by inference."""
    root = _default_cache_root()
    scoped = f"{name}@{os.path.basename(os.path.abspath(sf_dir))}"
    base = os.path.join(
        root,
        f"{scoped}-{_dir_fingerprint(sf_dir)}-{_builder_src_tag(builder)}",
    )

    def load_or_build() -> T:
        marker = os.path.join(base, "_COMPLETE")
        if os.path.exists(marker):
            from pyspark.sql.types import StructType

            DISK_MEMO_STATS["hits"] += 1
            with open(marker) as f:
                head, *schemas = f.read().splitlines()
            shape, _, n_str = head.partition(":")
            n = int(n_str)
            frames = []
            for i in range(n):
                reader = spark.read
                if len(schemas) == n:
                    reader = reader.schema(
                        StructType.fromJson(json.loads(schemas[i]))
                    )
                df = reader.parquet(os.path.join(base, f"part{i}"))
                if load_layout is not None:
                    df = load_layout(i, df)
                df = df.persist()
                df.count()
                frames.append(df)
            if shape == "tuple":
                return tuple(frames)  # type: ignore[return-value]
            if shape == "list":
                return frames  # type: ignore[return-value]
            return frames[0]  # type: ignore[return-value]
        DISK_MEMO_STATS["misses"] += 1
        val = builder()
        items = tuple(val) if isinstance(val, (tuple, list)) else (val,)
        shape = (
            "tuple"
            if isinstance(val, tuple)
            else "list" if isinstance(val, list) else "scalar"
        )
        import shutil

        tmp = f"{base}.tmp-{os.getpid()}"
        try:
            for i, df in enumerate(items):
                df.write.mode("overwrite").parquet(
                    os.path.join(tmp, f"part{i}")
                )
            with open(os.path.join(tmp, "_COMPLETE"), "w") as f:
                f.write(f"{shape}:{len(items)}")
                for df in items:
                    schema = _as_read(df.schema.jsonValue())
                    f.write("\n" + json.dumps(schema))
            if not os.path.exists(base):
                try:
                    os.rename(tmp, base)
                except OSError:
                    # Concurrent writer won the rename race (EEXIST /
                    # ENOTEMPTY): a valid finished index now exists at
                    # base — serve our freshly-built value and let the
                    # finally-clause discard the losing temp dir
                    # (round-10 ADVICE).
                    if not os.path.exists(marker):
                        raise
                else:
                    # Prune superseded generations (regenerated
                    # fixture) so the cache dir does not grow without
                    # bound.  Match by SEGMENT SHAPE, never a bare
                    # rsplit/prefix test: new format is
                    # {scoped}-{fp8}-{tag8}, legacy (pre-round-12)
                    # {scoped}-{fp8}, where fp8 is 8-hex and tag8 is
                    # 8-hex or the literal 'nosrc000'.  A bare rsplit
                    # collided across fixtures whose basenames contain
                    # a dash: pruning 'idx@fx' must not evict a legacy
                    # 'idx@fx-a-<fp8>' belonging to fixture 'fx-a'
                    # (round-12 ADVICE) — the shape test can't, because
                    # 'a' is not an 8-hex segment.
                    gen = re.compile(re.escape(scoped) + _GEN_SUFFIX)
                    for d in os.listdir(root):
                        full = os.path.join(root, d)
                        if (
                            full != base
                            and os.path.isdir(full)
                            and gen.fullmatch(d)
                        ):
                            shutil.rmtree(full, ignore_errors=True)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        return val

    ran = {"load_or_build": False}

    def counted() -> T:
        ran["load_or_build"] = True
        return load_or_build()

    val = session_memo(spark, sf_dir, name, counted)
    if not ran["load_or_build"]:
        DISK_MEMO_STATS["session_hits"] += 1
    return val


def _as_read(schema_json):
    """A schema's JSON as a parquet read of its written data infers it:
    Spark writes parquet with every field, array element and map value
    nullable."""
    if isinstance(schema_json, dict):
        return {
            k: True
            if k in ("nullable", "containsNull", "valueContainsNull")
            else _as_read(v)
            for k, v in schema_json.items()
        }
    if isinstance(schema_json, list):
        return [_as_read(v) for v in schema_json]
    return schema_json


def materialize_scalar(spark, df):
    """Collect a SMALL (1-to-few-row) DataFrame and rebuild it as a
    literal local-relation frame with the same schema — the 'serving
    pack' materialization for 1-row model/policy/bounds artifacts that
    streaming twins crossJoin-broadcast into every micro-batch.

    A lazy frame handed to a stream-static crossJoin re-executes its
    ENTIRE upstream batch pipeline inside every trigger (the r14
    twin_nb_filter defect: the full NB training aggregation re-ran per
    micro-batch, worst twin p50 2044 ms); even a persisted frame still
    pays a cache scan + broadcast rebuild per trigger.  Collecting and
    rebuilding severs the lineage completely — the plan under the
    stream is a LocalRelation, which is what a real serving tier ships
    (the trained artifact, not the training job).  Caller is
    responsible for only handing this bounded frames (class packs,
    1-row thresholds, layout bounds)."""
    rows = df.collect()
    return spark.createDataFrame(rows, schema=df.schema)


def _unpersist_quietly(obj) -> None:
    """Unpersist any DataFrame(s) inside a memoized value (best-effort —
    entries may be tuples of frames, scalars, or plain objects)."""
    items = obj if isinstance(obj, (tuple, list)) else (obj,)
    for it in items:
        unp = getattr(it, "unpersist", None)
        if callable(unp):
            try:
                unp()
            except Exception:
                pass  # session already stopped — storage is gone anyway


def clear_session_memo() -> None:
    """Drop all memoized entries, unpersisting any cached DataFrames so
    executor storage is released (tests that restart sessions; long
    sessions that want the memory back).

    The catalog's per-session relation cache (``sources.catalog.table``)
    is left alone: its entries are unpersisted scan plans that pin no
    executor storage, so dropping them would release nothing and only
    bring back one schema-inference job per table on the next query."""
    with _LOCK:
        for v in _CACHE.values():
            _unpersist_quietly(v)
        _CACHE.clear()
