#!/usr/bin/env python
"""Scale probe: time registry keys on two grown copies of the sf0.1
fixture and report how far each key's cost grows against the data.

    SPARK_GRAFT_CPUS=4 python scripts/scale_probe.py SMALL BIG KEY...
    # e.g. python scripts/scale_probe.py 1 10 llm_dedup_minhash rel_q21_waiting
    # env: SPARK_GRAFT_SF01 (the base fixture, default /root/testdata/sf0.1)

SMALL and BIG are copy counts of the base (1, 10, 100, 1000 — sf0.1,
sf1, sf10, sf100); 1 is the base itself.  ``fixture(copies)`` writes
``<tmp>/scale_probe/x<copies>_<rules digest>/`` once and reuses it.
Dimension tables (region, nation, customer, supplier, part) are copied
as-is; each fact table grows by one rule (``GROW``) in one DuckDB statement over
``range(copies)``, so facts grow and dimensions do not, as at real scale:

  - documents: copy i adds i·10⁶ to doc_id and suffixes every token with
    ``_i`` (i > 0) — disjoint sub-corpora, so duplicate-cluster sizes stay
    constant while corpus and vocabulary grow (the conservative model for
    LSH banding: bucket count grows, per-bucket density must not).
  - embeddings: copy i adds i·10⁶ to vec_id and applies one of 1024
    signed coordinate permutations: permutation p = i % 128 (p < 64
    rotates the 64 coordinates by p, else reverses then rotates by
    p − 64), then sign mask h = i // 128, the Walsh–Hadamard row that
    negates coordinate j (0-based) when popcount(h & j) is odd.  Copy 0
    is the base.  Every transform is orthogonal, so norms and within-copy
    geometry are kept, and no component is shared: two copies with the
    same permutation differ in sign on exactly half of the coordinates
    (distinct Hadamard rows), so a vector and its copies stay
    uncorrelated.  The 1024 transforms are distinct.
  - events: copy i adds i·10⁷ to event_id and i·10⁴ to user_id, ts
    unchanged — the time span is fixed and the user count grows, so
    per-key history depth stays constant while key cardinality rises.
  - lineitem, orders: copy i adds i·10⁷ to the orderkey.

Timing is standalone-cold: every measurement starts with an empty
session memo and points the disk memo (SPARK_GRAFT_INDEX_CACHE) and the
layout cache (SPARK_GRAFT_LAYOUT_CACHE) at a fresh temp dir, so each
ratio compares two index builds, never a build with a read-back.  Each
key first runs once untimed on the SMALL fixture, so the first timed
run does not carry the JVM's first execution of its plan.  At BIG ≥ 1000 the
session defaults to SPARK_GRAFT_DRIVER_MEM=64g and SPARK_GRAFT_SHUFFLE=128
(a 5M-doc MinHash signature aggregation overruns the 8g default heap);
both scales run under the same confs.

Output: one JSON line per key {query, x<SMALL>_sec, x<BIG>_sec, ratio,
vs_linear = ratio / (BIG/SMALL)} — the ``*_stats`` keys also carry their
output rows at both scales — then a summary line.  A vs_linear
materially above 1 is a super-linear plan.

Imports only the stdlib at load time; DuckDB, Spark and the engine are
imported inside the functions that use them.
"""

from __future__ import annotations

import gc
import hashlib
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

BASE = os.environ.get("SPARK_GRAFT_SF01", "/root/testdata/sf0.1")
ROOT = os.path.join(tempfile.gettempdir(), "scale_probe")

DIMENSIONS = ("region", "nation", "customer", "supplier", "part")

#: Fact table → the columns copy ``i`` replaces (a DuckDB ``REPLACE``
#: list over the base row); every other column is kept as-is.
GROW = {
    "documents": """doc_id + i * 1000000 AS doc_id,
        CASE WHEN i = 0 THEN text ELSE list_aggregate(list_transform(
            string_split(text, ' '), x -> x || '_' || i), 'string_agg', ' ')
        END AS text""",
    "embeddings": """vec_id + i * 1000000 AS vec_id,
        list_transform(range(1, 65), j ->
            (CASE WHEN bit_count((i // 128) & (j - 1)) % 2 = 0
                  THEN 1 ELSE -1 END)
            * embedding[CASE WHEN i % 128 < 64
                             THEN (j - 1 + i % 128) % 64 + 1
                             ELSE 64 - (j - 1 + i % 128 - 64) % 64
                        END]) AS embedding""",
    "events": """event_id + i * 10000000 AS event_id,
        user_id + i * 10000 AS user_id""",
    "lineitem": "l_orderkey + i * 10000000 AS l_orderkey",
    "orders": "o_orderkey + i * 10000000 AS o_orderkey",
}

#: Keys whose output rows (bucket counts) are recorded at both scales:
#: the per-bucket density evidence behind the banding scale argument.
STATS = {"llm_dedup_minhash_stats", "llm_dedup_embed_lsh_stats"}


def grown(table: str, src: str, copies: int) -> str:
    """The DuckDB query of fact ``table`` (read from parquet ``src``)
    grown ``copies``-fold by its ``GROW`` rule."""
    return (
        f"SELECT * EXCLUDE (i) REPLACE ({GROW[table]}) "
        f"FROM range({copies}) c(i), '{src}'"
    )


def fixture(copies: int, base: str = BASE, root: str = ROOT) -> str:
    """The directory of the base fixture grown ``copies``-fold (built
    once; 1 is the base itself).  The directory name carries a digest of
    the ``GROW`` rules, so a changed rule never reuses a fixture built by
    the old one.  Each table is written under a temp name and renamed,
    so a cut-off build leaves no half-written table."""
    if copies == 1:
        return base
    import duckdb

    rules = hashlib.sha256(json.dumps(GROW, sort_keys=True).encode())
    out = os.path.join(root, f"x{copies}_{rules.hexdigest()[:8]}")
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    for t in DIMENSIONS + tuple(GROW):
        dst = os.path.join(out, f"{t}.parquet")
        if os.path.exists(dst):
            continue
        src = os.path.join(base, f"{t}.parquet")
        tmp = dst + ".tmp"
        if t in GROW:
            con.sql(
                f"COPY ({grown(t, src, copies)}) TO '{tmp}' (FORMAT PARQUET)"
            )
        else:
            shutil.copyfile(src, tmp)
        os.replace(tmp, dst)
    return out


def session(big: int, app: str):
    """Spark session for a probe whose largest fixture is ``big`` copies."""
    if big >= 1000:
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "64g")
        os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "128")
    from scala_reactivex_spark.session import get_spark

    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def measure(spark, name: str, sf_dir: str) -> tuple[float, list | None]:
    """Run one key standalone-cold on ``sf_dir``: seconds for a noop
    write, and the output rows when the key is in ``STATS``."""
    from scala_reactivex_spark.plans.memo import clear_session_memo
    from scala_reactivex_spark.plans.registry import get

    cache = tempfile.mkdtemp(prefix="scale_probe_cache_")
    os.environ["SPARK_GRAFT_INDEX_CACHE"] = os.path.join(cache, "index")
    os.environ["SPARK_GRAFT_LAYOUT_CACHE"] = os.path.join(cache, "layout")
    fn = get(name).fn
    try:
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        sec = round(time.perf_counter() - t0, 3)
        rows = None
        if name in STATS:
            rows = [r.asDict() for r in fn(spark, sf_dir).collect()]
    finally:
        # Persisted index frames pin their shuffle files: release them
        # so a campaign at 1000× does not fill the disk.
        clear_session_memo()
        gc.collect()
        spark._jvm.System.gc()
        shutil.rmtree(cache, ignore_errors=True)
    return sec, rows


def timings(spark, keys, dirs):
    """Yield ``(key, [(seconds, rows) per dir])`` for each key, the dirs
    measured in order.  Every table of every dir is resolved up front,
    and each key first runs once untimed on the first dir, so no timed
    run pays a table's first resolution or the JVM's first execution of
    the key's plan."""
    from scala_reactivex_spark.sources.catalog import table

    for d in dirs:
        for t in DIMENSIONS + tuple(GROW):
            table(spark, d, t)
    for name in keys:
        measure(spark, name, dirs[0])
        yield name, [measure(spark, name, d) for d in dirs]


def main(argv: list[str]) -> int:
    if len(argv) < 3 or not (argv[0].isdigit() and argv[1].isdigit()):
        print("usage: scale_probe.py SMALL BIG KEY...", file=sys.stderr)
        return 2
    small, big, keys = int(argv[0]), int(argv[1]), argv[2:]
    dirs = [fixture(small), fixture(big)]
    spark = session(big, "scale-probe")
    growth = big / small
    rows = []
    for name, ((t_small, s_small), (t_big, s_big)) in timings(
        spark, keys, dirs
    ):
        ratio = round(t_big / t_small, 2) if t_small > 0 else None
        row = {
            "query": name,
            f"x{small}_sec": t_small,
            f"x{big}_sec": t_big,
            "ratio": ratio,
            "vs_linear": round(ratio / growth, 2) if ratio else None,
        }
        if name in STATS:
            row[f"stats_x{small}"], row[f"stats_x{big}"] = s_small, s_big
        rows.append(row)
        print(json.dumps(row, default=str), flush=True)
    print(
        json.dumps(
            {
                "metric": "scale_probe",
                "small": small,
                "big": big,
                "cores": spark.sparkContext.defaultParallelism,
                "worst_vs_linear": max(
                    (r["vs_linear"] for r in rows if r["vs_linear"]),
                    default=None,
                ),
                "rows": [
                    {k: v for k, v in r.items() if not k.startswith("stats_")}
                    for r in rows
                ],
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
