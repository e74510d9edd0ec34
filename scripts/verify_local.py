#!/usr/bin/env python
"""Local replica of the driver's correctness gate.

Runs every registered query through Spark AND its DuckDB oracle at the given
scale factor, compares row count, column names and an order-insensitive
value hash, and prints a per-query verdict.  Use while iterating:

    python scripts/verify_local.py [--sf /root/testdata/sf0.01] [query ...]

``check()`` is the per-key gate; ``tests/test_contract.py`` runs it over
every key at sf0.001.  The module imports only the stdlib at load time
(duckdb, pyspark and the engine inside functions): ``perfbench`` imports
``collect_capped`` and ``table_hash`` from it before the engine copy it
measures is on ``sys.path``.
"""

from __future__ import annotations

import argparse
import math
import sys
import time

sys.path.insert(0, ".")

#: Max rows the gate will collect per query — far above any legitimate
#: fixture result (largest is ~67k) but small enough that an unbounded
#: operator fails the gate legibly instead of OOMing the driver.
ROW_CAP = 1_000_000


def collect_capped(sdf, cap: int = ROW_CAP):
    """Collect at most ``cap`` rows; raise instead of fetching more.

    ``limit(cap + 1)`` bounds the fetch itself, so even a pathological
    unbounded operator cannot OOM the gate process (VERDICT r4 #6)."""
    rows = [tuple(r) for r in sdf.limit(cap + 1).collect()]
    if len(rows) > cap:
        raise OverflowError(
            f"result exceeds the {cap:,}-row gate cap — not collectable; "
            "bound the operator's output"
        )
    return rows


def norm_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # Canonical text form: repr of the double (both engines hand back
        # Python floats; bit-identical doubles → identical repr).
        return repr(v)
    return str(v)


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(norm_cell(r[i]) for i in order) for r in rows
    )
    import hashlib

    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def oracle_connection(sf_dir: str):
    """In-memory DuckDB with one view per fixture table under ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def check(sdf, con, oracle: str | None):
    """Hold one query's Spark result to its DuckDB oracle.

    Collects ``sdf`` once (capped) and returns ``(rows, problems)``: the
    collected rows and the list of gate failures, empty on a PASS.  A
    key without an oracle (rows-only) is checked for collectability and
    scalar output only.  Spark errors other than the cap propagate."""
    from pyspark.sql.types import ArrayType, BinaryType, MapType, StructType

    try:
        rows = collect_capped(sdf)
    except OverflowError as exc:
        return [], [str(exc)]
    # Driver-hashability rule: the external gate canonicalizes results
    # with pandas sort_values over every column, which crashes on
    # list/array/dict cells (unhashable — llm_embed_quantize,
    # CORRECTNESS_r02).  Compared outputs must be scalar columns only.
    # Detect via the schema, not sampled row values: a column whose
    # sampled rows are all NULL would otherwise slip past (ADVICE r3).
    unhashable = sorted(
        f.name
        for f in sdf.schema.fields
        if isinstance(f.dataType, (ArrayType, BinaryType, MapType, StructType))
    )
    if unhashable:
        return rows, [
            f"non-scalar output column(s) {unhashable} — driver "
            "canonicalizer cannot sort/hash list cells; emit scalar "
            "summaries instead"
        ]
    if not oracle:
        return rows, []
    try:
        rel = con.sql(oracle)
        ocols = rel.columns
        otypes = [str(t) for t in rel.types]
        orows = rel.fetchall()
    except Exception as exc:  # noqa: BLE001
        return rows, [f"duckdb error: {exc}"]
    scols = sdf.columns
    problems = []
    # Type-pin rule (determinism convention §2.11): DuckDB widens integer
    # aggregates to HUGEINT (int128), which Spark cannot emit — the driver
    # hashes the typed representation, so an unpinned HUGEINT column is a
    # latent hash fail even when the values agree.  Force an explicit CAST.
    wide = [
        f"{c}:{t}"
        for c, t in zip(ocols, otypes)
        if t in ("HUGEINT", "UHUGEINT", "INT128", "UINT128")
    ]
    if wide:
        problems.append(
            "oracle emits unpinned int128 column(s) "
            f"{wide} — CAST(... AS BIGINT) in the oracle SQL"
        )
    if len(rows) != len(orows):
        problems.append(f"rowcount {len(rows)} vs {len(orows)}")
    if sorted(scols) != sorted(ocols):
        problems.append(f"columns {sorted(scols)} vs {sorted(ocols)}")
    if not problems and table_hash(scols, rows) != table_hash(ocols, orows):
        problems.append("value hash mismatch")
        # None-safe sort key: rows may mix None and values in a column.
        row_key = lambda r: tuple(  # noqa: E731
            (v is None, norm_cell(v)) for v in r
        )
        srt = sorted(rows, key=row_key)
        ort = sorted(orows, key=row_key)
        for a, b in [(a, b) for a, b in zip(srt, ort) if a != b][:3]:
            problems.append(f"  spark={a}")
            problems.append(f"  duck ={b}")
    return rows, problems


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    from scala_reactivex_spark.plans.registry import registry
    from scala_reactivex_spark.session import get_spark

    spark = get_spark("verify-local")
    con = oracle_connection(args.sf)

    specs = registry()
    names = args.queries or list(specs)
    n_pass = n_fail = n_rows_only = 0
    passed: list[str] = []
    for name in names:
        spec = specs[name]
        t0 = time.time()
        try:
            rows, problems = check(spec.fn(spark, args.sf), con, spec.oracle)
        except Exception as exc:  # noqa: BLE001
            rows, problems = [], [f"spark error: {exc}"]
        if problems:
            print(f"FAIL  {name}: " + problems[0])
            for p in problems[1:]:
                print("      " + p)
            n_fail += 1
        elif not spec.oracle:
            print(
                f"rows  {name}: {len(rows)} rows ({time.time()-t0:.1f}s)"
                " [rows-only]"
            )
            n_rows_only += 1
        else:
            print(f"PASS  {name}: {len(rows)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1
            passed.append(name)
    print(
        f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only "
        f"of {len(names)}"
    )
    # Stamp verified_fp for every full-oracle PASS at the driver's own
    # gate scale, so the edit-aware rotation (plans/grade_fp.py) knows
    # the current source of these keys has been re-confirmed with the
    # identical hash protocol.  Other scales are weaker evidence — no
    # stamp.
    if passed and "sf0.01" in args.sf:
        from scala_reactivex_spark.plans import grade_fp

        grade_fp.stamp_verified(
            {n: specs[n].fn.__module__ for n in passed}
        )
        print(f"stamped verified_fp for {len(passed)} keys")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
