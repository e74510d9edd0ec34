#!/usr/bin/env python
"""Hot-key skew probe for the per-key ordered family.

`rel_join_skew_salted` / `rel_skew_agg` prove the salted JOIN/AGG
shapes; the per-key ORDERED operators (running scan, debounce, session
windows) are a window over ``PARTITION BY user_id ORDER BY ts,
event_id``: all rows of one user land in one task and are sorted there,
so a user holding a constant FRACTION of the corpus is the worst case —
AQE's skew handling splits join/agg partitions, NOT sort partitions, so
the hot task is irreducible without a two-level rewrite.

This script times each key on two events fixtures with identical row
counts and time spans:

  - uniform: the scale probe's fixture at COPIES (``scale_probe.fixture``,
    disjoint user ranges per copy);
  - hot-key: the SAME rows, except ~30% are remapped to user_id=1
    (event_id % 10 < 3 — deterministic, spread evenly over time); the
    other tables are links to the uniform fixture's.

Both run through the scale probe's standalone-cold timing loop:

    SPARK_GRAFT_CPUS=4 python scripts/skew_probe.py COPIES KEY...
    # e.g. python scripts/skew_probe.py 10 op_scan_running_sum op_debounce

Output: one JSON line per key {query, uniform_sec, hot_sec, skew_ratio}
plus a summary line with the hot-key share.  skew_ratio ≈ 1 means the
box absorbs the single-key sort; a materially higher ratio marks where
the salted two-level rewrite (operators/salted.py) must take over.
"""

from __future__ import annotations

import json
import os
import sys

from scale_probe import DIMENSIONS, GROW, ROOT, fixture, session, timings

HOT_FRAC_PCT = 30  # event_id % 10 < 3


def hot_fixture(uniform_dir: str, copies: int) -> str:
    """``uniform_dir`` with ~30% of its events remapped to user 1."""
    import duckdb

    out = os.path.join(ROOT, f"x{copies}_hot")
    os.makedirs(out, exist_ok=True)
    for t in DIMENSIONS + tuple(GROW):
        link = os.path.join(out, f"{t}.parquet")
        if t != "events" and not os.path.lexists(link):
            os.symlink(os.path.abspath(f"{uniform_dir}/{t}.parquet"), link)
    dst = os.path.join(out, "events.parquet")
    if not os.path.exists(dst):
        duckdb.sql(
            f"""COPY (
                SELECT * REPLACE (CASE WHEN event_id % 10 < {HOT_FRAC_PCT // 10}
                                       THEN 1 ELSE user_id END AS user_id)
                FROM '{uniform_dir}/events.parquet'
            ) TO '{dst}.tmp' (FORMAT PARQUET)"""
        )
        os.replace(dst + ".tmp", dst)
    return out


def main(argv: list[str]) -> int:
    if len(argv) < 2 or not argv[0].isdigit():
        print("usage: skew_probe.py COPIES KEY...", file=sys.stderr)
        return 2
    copies, keys = int(argv[0]), argv[1:]
    uniform_dir = fixture(copies)
    hot_dir = hot_fixture(uniform_dir, copies)
    import duckdb

    total, hot = duckdb.sql(
        "SELECT count(*), count(*) FILTER (WHERE user_id = 1) "
        f"FROM '{hot_dir}/events.parquet'"
    ).fetchone()
    spark = session(copies, "skew-probe")
    rows = []
    for name, ((t_uni, _), (t_hot, _)) in timings(
        spark, keys, [uniform_dir, hot_dir]
    ):
        row = {
            "query": name,
            "uniform_sec": t_uni,
            "hot_sec": t_hot,
            "skew_ratio": round(t_hot / t_uni, 2) if t_uni > 0 else None,
        }
        rows.append(row)
        print(json.dumps(row), flush=True)
    print(
        json.dumps(
            {
                "metric": "hot_key_skew_probe",
                "copies": copies,
                "cores": spark.sparkContext.defaultParallelism,
                "rows_total": total,
                "hot_key_rows": hot,
                "hot_share": round(hot / total, 4),
                "worst_skew_ratio": max(
                    (r["skew_ratio"] for r in rows if r["skew_ratio"]),
                    default=None,
                ),
                "rows": rows,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
