"""Session-memo behavior: shared index builds are built once per
(session, fixture dir, name) and are keyed strictly enough that a
different fixture dir or name never serves a stale object."""

from __future__ import annotations


def test_memo_returns_same_object_per_key(spark, sf_dir):
    from scala_reactivex_spark.plans.memo import session_memo

    calls = []

    def build():
        calls.append(1)
        return object()

    a = session_memo(spark, sf_dir, "t_memo_probe", build)
    b = session_memo(spark, sf_dir, "t_memo_probe", build)
    assert a is b and len(calls) == 1


def test_memo_keys_on_dir_and_name(spark, sf_dir, tmp_path):
    from scala_reactivex_spark.plans.memo import session_memo

    a = session_memo(spark, sf_dir, "t_memo_k1", object)
    b = session_memo(spark, sf_dir, "t_memo_k2", object)
    c = session_memo(spark, str(tmp_path), "t_memo_k1", object)
    assert a is not b and a is not c


def test_shared_index_builders_are_memoized(spark, sf_dir):
    """The real builders return the identical frame objects on repeat
    calls — one persisted copy per session, not one per consumer."""
    from scala_reactivex_spark.operators.llm_cluster import _kmeans_loop
    from scala_reactivex_spark.operators.llm_similarity import (
        _ivf_index,
        _pq_index,
    )

    from scala_reactivex_spark.operators.llm_retrieval import hybrid_corpus

    assert _ivf_index(spark, sf_dir)[2] is _ivf_index(spark, sf_dir)[2]
    assert _pq_index(spark, sf_dir)[0] is _pq_index(spark, sf_dir)[0]
    assert _kmeans_loop(spark, sf_dir)[0] is _kmeans_loop(spark, sf_dir)[0]
    # The hybrid-retrieval index joined the memoized tier in round 12
    # (its serving twin consumes it twice per micro-batch).
    assert hybrid_corpus(spark, sf_dir) is hybrid_corpus(spark, sf_dir)


def test_memo_misses_when_fixture_regenerated(spark, tmp_path):
    """The memo key carries a content fingerprint of the fixture dir —
    a regenerated fixture (same path, new mtime) must rebuild instead
    of serving the stale object (round-8 ADVICE)."""
    import os
    import time

    from scala_reactivex_spark.plans.memo import session_memo

    fix = tmp_path / "memofix"
    fix.mkdir()
    f = fix / "embeddings.parquet"
    f.write_bytes(b"x" * 16)

    a = session_memo(spark, str(fix), "t_memo_fp", object)
    b = session_memo(spark, str(fix), "t_memo_fp", object)
    assert a is b

    t = time.time() + 10
    os.utime(f, (t, t))
    c = session_memo(spark, str(fix), "t_memo_fp", object)
    assert c is not a


def test_clear_session_memo_unpersists_cached_frames(spark, sf_dir):
    """clear_session_memo releases executor storage: any persisted
    DataFrame inside a memoized value is unpersisted on clear."""
    from pyspark import StorageLevel

    from scala_reactivex_spark.plans.memo import (
        clear_session_memo,
        session_memo,
    )

    df = session_memo(
        spark,
        sf_dir,
        "t_memo_unpersist",
        lambda: spark.range(10).persist(StorageLevel.MEMORY_ONLY),
    )
    df.count()
    assert df.storageLevel.useMemory
    clear_session_memo()
    assert not df.storageLevel.useMemory


def test_memo_single_build_under_concurrency(spark, sf_dir):
    """Concurrent first-callers must not double-build (each builder
    persist()s, so a race would leak one pinned copy per racer), and a
    builder that re-enters session_memo for a nested index must not
    deadlock on the guard lock."""
    import threading

    from scala_reactivex_spark.plans.memo import session_memo

    calls = []
    gate = threading.Barrier(4)

    def nested_build():
        calls.append("inner")
        return object()

    def build():
        calls.append("outer")
        # nested memo access from inside a builder (the winnowing
        # inverted index builds on the memoized fingerprint frame)
        session_memo(spark, sf_dir, "t_memo_conc_inner", nested_build)
        return object()

    results = []

    def worker():
        gate.wait()
        results.append(
            session_memo(spark, sf_dir, "t_memo_conc_outer", build)
        )

    threads = [threading.Thread(target=worker) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
    assert all(not t.is_alive() for t in threads), "deadlocked"
    assert len(results) == 4 and all(r is results[0] for r in results)
    assert calls == ["outer", "inner"]


def test_regeneration_evicts_and_unpersists_stale_generation(
    spark, tmp_path
):
    """A fingerprint-changing regeneration must EVICT the old
    generation's entry — unpersisting its cached frames — not leave it
    pinned in executor storage forever (round-9 ADVICE)."""
    import os
    import time

    from pyspark import StorageLevel

    from scala_reactivex_spark.plans.memo import _CACHE, session_memo

    fix = tmp_path / "memofix_evict"
    fix.mkdir()
    f = fix / "documents.parquet"
    f.write_bytes(b"x" * 16)

    gen = [0]

    def build():
        # Distinct literal per generation: Spark's CacheManager keys on
        # the logical plan, so identical plans would share one cache
        # entry and mask whether eviction unpersisted the old one.
        gen[0] += 1
        df = spark.range(5).withColumn(
            "g", __import__("pyspark.sql.functions", fromlist=["lit"]).lit(
                gen[0]
            )
        ).persist(StorageLevel.MEMORY_ONLY)
        df.count()
        return df

    a = session_memo(spark, str(fix), "t_memo_evict", build)
    assert a.storageLevel.useMemory

    t = time.time() + 10
    os.utime(f, (t, t))
    b = session_memo(spark, str(fix), "t_memo_evict", build)
    assert b is not a
    # Old generation gone from the cache AND its storage released.
    assert a.storageLevel == StorageLevel.NONE
    live = [
        k for k in _CACHE if k[3] == "t_memo_evict"
    ]
    assert len(live) == 1
    b.unpersist()


def test_fingerprint_sees_subsecond_and_relocated_regeneration(tmp_path):
    """st_mtime_ns (not whole seconds) and sf_dir-relative paths (not
    bare filenames) both change the fingerprint (round-9 ADVICE)."""
    import os

    from scala_reactivex_spark.plans.memo import _dir_fingerprint

    fix = tmp_path / "fpfix"
    fix.mkdir()
    f = fix / "part.parquet"
    f.write_bytes(b"y" * 8)
    fp0 = _dir_fingerprint(str(fix))

    # Same size, same whole-second mtime, different nanoseconds.
    st = os.stat(f)
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    assert _dir_fingerprint(str(fix)) != fp0

    # Same filename/size/mtime moved into a subdirectory.
    sub = fix / "sub"
    sub.mkdir()
    st = os.stat(f)
    os.rename(f, sub / "part.parquet")
    os.utime(sub / "part.parquet", ns=(st.st_atime_ns, st.st_mtime_ns))
    fp_moved = _dir_fingerprint(str(fix))
    assert fp_moved != fp0


def test_disk_memo_round_trips_container_shape(spark, tmp_path, monkeypatch):
    """A builder's container shape survives the parquet tier across
    sessions (round-10 ADVICE): a 1-tuple reads back as a 1-tuple, a
    list as a list, a bare frame as a bare frame — asserted by evicting
    the in-memory tier so the second call takes the disk read path."""
    import pyspark.sql.functions as F

    from scala_reactivex_spark.plans import memo
    from scala_reactivex_spark.plans.memo import (
        clear_session_memo,
        disk_memo,
    )

    monkeypatch.setenv("SPARK_GRAFT_INDEX_CACHE", str(tmp_path / "cache"))
    fx = tmp_path / "fx"
    fx.mkdir()
    (fx / "marker.parquet").write_text("x")

    def frame(n):
        return spark.range(n).select(F.col("id").alias("v"))

    built = disk_memo(spark, str(fx), "one_tuple", lambda: (frame(3),))
    assert isinstance(built, tuple) and len(built) == 1
    clear_session_memo()
    back = disk_memo(
        spark, str(fx), "one_tuple", lambda: (_ for _ in ()).throw(
            AssertionError("must hit the disk tier")
        )
    )
    assert isinstance(back, tuple) and len(back) == 1
    assert back[0].count() == 3

    disk_memo(spark, str(fx), "a_list", lambda: [frame(2), frame(4)])
    clear_session_memo()
    back = disk_memo(
        spark, str(fx), "a_list", lambda: (_ for _ in ()).throw(
            AssertionError("must hit the disk tier")
        )
    )
    assert isinstance(back, list) and [f.count() for f in back] == [2, 4]

    disk_memo(spark, str(fx), "scalar", lambda: frame(5))
    clear_session_memo()
    back = disk_memo(
        spark, str(fx), "scalar", lambda: (_ for _ in ()).throw(
            AssertionError("must hit the disk tier")
        )
    )
    assert not isinstance(back, (tuple, list)) and back.count() == 5
    assert memo._CACHE  # the read-back landed in the session tier


def test_disk_memo_scopes_generations_per_fixture_dir(
    spark, tmp_path, monkeypatch
):
    """Two fixture dirs sharing an index NAME must not evict each
    other's disk entries (round-11: a sf0.01 verify run was thrashing
    the sf0.1 bench cache)."""
    import os

    import pyspark.sql.functions as F

    from scala_reactivex_spark.plans.memo import (
        clear_session_memo,
        disk_memo,
    )

    cache = tmp_path / "cache"
    monkeypatch.setenv("SPARK_GRAFT_INDEX_CACHE", str(cache))
    for d in ("fx_a", "fx_b"):
        (tmp_path / d).mkdir()
        (tmp_path / d / "m.parquet").write_text(d)

    def frame(n):
        return spark.range(n).select(F.col("id").alias("v"))

    disk_memo(spark, str(tmp_path / "fx_a"), "idx", lambda: frame(3))
    disk_memo(spark, str(tmp_path / "fx_b"), "idx", lambda: frame(7))
    clear_session_memo()
    # Both generations still on disk, each served without a rebuild.
    a = disk_memo(
        spark, str(tmp_path / "fx_a"), "idx", lambda: (_ for _ in ()).throw(
            AssertionError("fx_a entry was evicted")
        )
    )
    b = disk_memo(
        spark, str(tmp_path / "fx_b"), "idx", lambda: (_ for _ in ()).throw(
            AssertionError("fx_b entry was evicted")
        )
    )
    assert (a.count(), b.count()) == (3, 7)
    names = os.listdir(cache)
    assert any(n.startswith("idx@fx_a-") for n in names)
    assert any(n.startswith("idx@fx_b-") for n in names)


def test_disk_memo_prune_spares_legacy_dashed_fixture_dirs(
    spark, tmp_path, monkeypatch
):
    """A prune for scoped 'idx@fx' must not evict a LEGACY-format dir
    'idx@fx-a-<fp8>' belonging to fixture 'fx-a' (round-12 ADVICE: the
    rsplit-based match collided across fixtures whose basenames contain
    a dash; the fix matches generation suffixes by 8-hex segment shape).
    """
    import os

    from scala_reactivex_spark.plans.memo import (
        clear_session_memo,
        disk_memo,
    )

    cache = tmp_path / "cache"
    cache.mkdir()
    monkeypatch.setenv("SPARK_GRAFT_INDEX_CACHE", str(cache))
    fx = tmp_path / "fx"
    fx.mkdir()
    (fx / "m.parquet").write_text("x")

    # A pre-round-12 generation dir of the DASHED fixture 'fx-a':
    # {scoped}-{fp8} with no builder tag.
    legacy = cache / "idx@fx-a-0123abcd"
    legacy.mkdir()
    (legacy / "_COMPLETE").write_text("scalar:1")
    # And a superseded legacy generation of fixture 'fx' itself, which
    # SHOULD be pruned when the new write lands.
    stale_own = cache / "idx@fx-89abcdef"
    stale_own.mkdir()
    (stale_own / "_COMPLETE").write_text("scalar:1")

    clear_session_memo()
    disk_memo(
        spark, str(fx), "idx",
        lambda: spark.range(3).selectExpr("id AS v"),
    )
    names = os.listdir(cache)
    assert "idx@fx-a-0123abcd" in names, (
        "cross-fixture legacy dir wrongly evicted"
    )
    assert "idx@fx-89abcdef" not in names, (
        "superseded own-fixture legacy generation not pruned"
    )
    clear_session_memo()


def test_disk_memo_invalidates_on_builder_source_edit(
    spark, tmp_path, monkeypatch
):
    """The on-disk cache name carries a hash of the builder's defining
    source file (round-11 ADVICE): editing the builder's module must
    force a rebuild instead of silently serving the stale pre-edit
    index across sessions — and the stale generation must be pruned on
    the new write."""
    import importlib.util
    import os

    from scala_reactivex_spark.plans.memo import (
        clear_session_memo,
        disk_memo,
    )

    cache = tmp_path / "cache"
    monkeypatch.setenv("SPARK_GRAFT_INDEX_CACHE", str(cache))
    fx = tmp_path / "fx"
    fx.mkdir()
    (fx / "m.parquet").write_text("x")

    def load(n: int, fname: str):
        # The zero-arg builder is DEFINED INSIDE a throwaway module, so
        # _builder_src_tag hashes that file — not this test file.  Two
        # DISTINCT paths stand in for the pre-edit and post-edit
        # sessions: the tag cache is pinned per path for the process
        # lifetime (a mid-process re-hash would mislabel builds made by
        # already-loaded pre-edit code), so the cross-session edit is
        # modeled as two first-hash states.
        mod_path = tmp_path / fname
        mod_path.write_text(
            "def make_builder(spark):\n"
            f"    return lambda: spark.range({n}).selectExpr('id AS v')\n"
        )
        spec = importlib.util.spec_from_file_location(
            fname[:-3], mod_path
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod

    a = disk_memo(
        spark, str(fx), "vtok", load(3, "vtok_v1.py").make_builder(spark)
    )
    assert a.count() == 3
    clear_session_memo()

    b = disk_memo(
        spark, str(fx), "vtok", load(9, "vtok_v2.py").make_builder(spark)
    )
    assert b.count() == 9, "stale pre-edit index served after builder edit"
    # Exactly one standing generation per name after the prune.
    gens = [n for n in os.listdir(cache) if n.startswith("vtok@fx-")]
    assert len(gens) == 1


def test_disk_memo_stats_count_hits_and_misses(
    spark, tmp_path, monkeypatch
):
    """DISK_MEMO_STATS distinguishes builds (misses), disk read-backs
    (hits) and in-session short-circuits (session_hits) — the regime
    record bench.py snapshots per run (round-11 ADVICE)."""
    import pyspark.sql.functions as F

    from scala_reactivex_spark.plans import memo
    from scala_reactivex_spark.plans.memo import (
        clear_session_memo,
        disk_memo,
    )

    monkeypatch.setenv("SPARK_GRAFT_INDEX_CACHE", str(tmp_path / "cache"))
    fx = tmp_path / "fx"
    fx.mkdir()
    (fx / "m.parquet").write_text("x")
    before = dict(memo.DISK_MEMO_STATS)

    def build():
        return spark.range(4).select(F.col("id").alias("v"))

    disk_memo(spark, str(fx), "stats_probe", build)  # miss (build)
    disk_memo(spark, str(fx), "stats_probe", build)  # session hit
    clear_session_memo()
    disk_memo(spark, str(fx), "stats_probe", build)  # disk hit

    delta = {
        k: memo.DISK_MEMO_STATS[k] - before[k] for k in before
    }
    assert delta == {"misses": 1, "session_hits": 1, "hits": 1}


def _jobs_before_persist(spark, fx, name, builder):
    """Read ``name`` back from the disk tier and return, per part, how
    many Spark jobs the read-back had launched by the time the part was
    laid out: after its parquet read, before its persist + count.  The
    counts are cumulative, so only the first part's count is the cost
    of one read alone."""
    from scala_reactivex_spark.plans.memo import clear_session_memo, disk_memo

    sc = spark.sparkContext
    seen: list[int] = []

    def layout(i, df):
        seen.append(len(sc.statusTracker().getJobIdsForGroup(gid)))
        return df

    clear_session_memo()
    gid = f"readback-{name}"
    sc.setJobGroup(gid, gid)
    try:
        back = disk_memo(spark, str(fx), name, builder, load_layout=layout)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return back, seen


def test_disk_memo_read_back_infers_no_schema(spark, tmp_path, monkeypatch):
    """The marker stores each part's schema as a parquet read infers
    it, so read-back launches no schema-inference job before the
    persist, and the read-back frames have the inferred schema."""
    import pyspark.sql.functions as F

    from scala_reactivex_spark.plans.memo import disk_memo

    cache = tmp_path / "cache"
    monkeypatch.setenv("SPARK_GRAFT_INDEX_CACHE", str(cache))
    fx = tmp_path / "fx"
    fx.mkdir()
    (fx / "m.parquet").write_text("x")

    def build():
        base = spark.range(6)
        return (
            base.select(
                F.col("id").alias("v"),
                F.array(F.col("id").cast("double")).alias("vec"),
                F.struct(F.lit(1).alias("a")).alias("st"),
            ),
            base.select(F.col("id").cast("decimal(38,6)").alias("d")),
        )

    disk_memo(spark, str(fx), "schema_probe", build)
    (idx,) = [d for d in cache.iterdir() if d.name.startswith("schema_probe@")]
    lines = (idx / "_COMPLETE").read_text().splitlines()
    assert lines[0] == "tuple:2" and len(lines) == 3

    back, seen = _jobs_before_persist(spark, fx, "schema_probe", build)
    assert len(seen) == 2 and seen[0] == 0
    for i, df in enumerate(back):
        inferred = spark.read.parquet(str(idx / f"part{i}")).schema
        assert df.schema == inferred
    assert sorted(r.v for r in back[0].collect()) == list(range(6))


def test_disk_memo_legacy_marker_still_loads(spark, tmp_path, monkeypatch):
    """A marker with only the shape line (written before schema lines
    existed) still round-trips, through schema inference."""
    import pyspark.sql.functions as F

    from scala_reactivex_spark.plans.memo import disk_memo

    cache = tmp_path / "cache"
    monkeypatch.setenv("SPARK_GRAFT_INDEX_CACHE", str(cache))
    fx = tmp_path / "fx"
    fx.mkdir()
    (fx / "m.parquet").write_text("x")

    def build():
        return [spark.range(3).select(F.col("id").alias("v"))]

    disk_memo(spark, str(fx), "legacy_probe", build)
    (idx,) = [d for d in cache.iterdir() if d.name.startswith("legacy_probe@")]
    (idx / "_COMPLETE").write_text("list:1")

    back, seen = _jobs_before_persist(spark, fx, "legacy_probe", build)
    assert isinstance(back, list) and len(back) == 1
    assert sorted(r.v for r in back[0].collect()) == [0, 1, 2]
    assert seen[0] >= 1  # the inference job that schema lines remove
