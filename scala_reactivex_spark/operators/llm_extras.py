"""Round-7 additions (SURVEY.md §2.10 family extensions): the RAG loop,
data-layout joins, schema evolution, tokenizer fertility.

The RAG loop (chunk → dedup → retrieve → evaluate):

- ``llm_chunk_overlap``: overlapping sliding-window chunking — the RAG
  ingestion primitive (fixed window, fixed stride, trailing partial
  chunk).  Distinct from ``llm_doc_split`` (hash train/val/test routing)
  and ``llm_cdc_chunks`` (content-defined boundaries): RAG retrieval
  wants uniform spans with overlap so no answer straddles a boundary.
  Streaming twin: ``streaming/twins.twin_chunk_overlap``.
- ``llm_chunk_dedup``: chunk-level cross-document boilerplate profile —
  dedup at exactly the retrieval unit before indexing.
- ``llm_chunk_retrieval_recall``: the acceptance eval — sampled
  held-out queries against the full chunk corpus, own-document hit
  flags in the overlap-ranked top-k.

Data layout at 100 TB:

- ``src_bucketed_join``: the shuffle-free co-located fact-to-fact join —
  lineitem and orders written ONCE as bucketed tables on their join key
  (8 buckets, sorted), then joined with zero Exchange on the keys
  (pytest asserts the executed plan): pay the bucketing write once,
  skip both sides' shuffles on every later join on that key.
- ``rel_join_skew_salted``: the standard hot-key remedy — deterministic
  salt on the big side, small-side replication per salt, provably equal
  to the plain join (the oracle IS the plain join).
- ``src_schema_evolution``: two parquet generations (one adds a
  column), one mergeSchema scan, cross-generation reconciliation.

Tokenizer diagnostics:

- ``llm_bpe_fertility``: per-language symbols before/after the learned
  BPE merges — which languages pay the most symbols per word under a
  shared vocabulary.  Composes the graded ``llm_bpe_apply`` per-doc
  table; its oracle embeds that operator's green oracle.

Release / evaluation audits:

- ``llm_kanon_audit``: k-anonymity over quasi-identifiers — the
  indirect-identifier release check complementing ``llm_pii_scrub``.
- ``llm_cluster_purity``: external clustering validation (k-means
  assignment × embedding labels, majority share per cluster).

These keys were held out of the round-7 driver window and led the
round-8 window as the only never-green keys; they were verified by the
identical local protocol (scripts/verify_local.py) in round 7.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scala_reactivex_spark.functions.determinism import dsum

# Importing the composed-from modules guarantees their @register blocks
# ran before the peek()s at the bottom of this module, regardless of
# whether this module is imported directly or via load_all().
from scala_reactivex_spark.operators import llm_cluster  # noqa: F401
from scala_reactivex_spark.operators import llm_subdoc  # noqa: F401
from scala_reactivex_spark.plans.registry import peek, register
from scala_reactivex_spark.sources.catalog import table, widen_scan


def _fixture_tag(sf_dir: str, tbl: str) -> str:
    """Cache key fragment for a fixture table: dir basename + an 8-hex
    content fingerprint (total size + newest mtime of the parquet files).
    A regenerated fixture, or two fixture dirs sharing a basename, then
    key DIFFERENT cache entries instead of silently serving stale rows
    (round-7 ADVICE)."""
    import hashlib

    path = os.path.join(sf_dir, f"{tbl}.parquet")
    parts: list[str] = []
    if os.path.isdir(path):
        for root_, _dirs, files in sorted(os.walk(path)):
            for fn in sorted(files):
                st = os.stat(os.path.join(root_, fn))
                parts.append(f"{fn}:{st.st_size}:{int(st.st_mtime)}")
    elif os.path.exists(path):
        st = os.stat(path)
        parts.append(f"{st.st_size}:{int(st.st_mtime)}")
    fp = hashlib.md5("|".join(parts).encode()).hexdigest()[:8]
    base = re.sub(
        r"[^0-9a-zA-Z]", "_", os.path.basename(os.path.normpath(sf_dir))
    )
    return f"{base}_{fp}"

#: RAG chunking geometry: 24-token windows, stride 16 (8-token overlap).
CHUNK_W = 24
CHUNK_S = 16

#: Bucket count for the co-located join demo (fixed — both sides MUST
#: agree or Spark re-shuffles one side).
N_BUCKETS = 8


@register(
    "llm_chunk_overlap",
    tier="T3",
    doc=f"Overlapping sliding-window chunking for RAG ingestion: each "
    f"document yields ceil-strided {CHUNK_W}-token windows every "
    f"{CHUNK_S} tokens (trailing chunk may be short), emitting the "
    "chunk index, 1-based token offset, chunk length and the chunk-text "
    "md5 (the retrieval unit's content address).  Scale shape: pure "
    "per-row generation — sequence+explode over the per-doc chunk "
    "count, slice on the token array, all JVM-side; output rows = "
    "Σ chunks, no shuffle at all (the plan is scan → generate → "
    "project).  Overlap factor W/S ≈ 1.5 is the storage price of "
    "boundary-robust retrieval.",
    oracle=f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n
  FROM documents
), c AS (
  SELECT doc_id, toks,
         CASE WHEN n <= {CHUNK_W} THEN 1
              ELSE 1 + (n - {CHUNK_W} + {CHUNK_S} - 1) // {CHUNK_S}
         END AS nc
  FROM d
), e AS (
  SELECT doc_id, toks, unnest(range(0, nc)) AS ci FROM c
)
SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
       CAST(ci * {CHUNK_S} + 1 AS BIGINT) AS start_tok,
       CAST(len(list_slice(toks, ci * {CHUNK_S} + 1,
                           ci * {CHUNK_S} + {CHUNK_W})) AS BIGINT)
         AS n_tok,
       md5(array_to_string(list_slice(toks, ci * {CHUNK_S} + 1,
                                      ci * {CHUNK_S} + {CHUNK_W}), ' '))
         AS chunk_md5
FROM e
""",
)
def llm_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _chunk_projection(_chunk_table(spark, sf_dir))


def chunk_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, ci, chunk) sliding-window chunks of a documents frame —
    shared by the graded operator, the retrieval-recall eval, and the
    streaming twin (identical expressions on batch or stream input)."""
    d = (
        docs.select("doc_id", F.split("text", " ").alias("toks"))
        .withColumn("n", F.size("toks"))
        .withColumn(
            "nc",
            F.expr(
                f"IF(n <= {CHUNK_W}, 1L, 1L + CAST((n - {CHUNK_W} "
                f"+ {CHUNK_S} - 1) DIV {CHUNK_S} AS BIGINT))"
            ),
        )
    )
    e = d.select(
        "doc_id",
        "toks",
        F.explode(F.expr("sequence(0L, nc - 1L)")).alias("ci"),
    )
    return e.select(
        "doc_id",
        "ci",
        F.expr(f"slice(toks, ci * {CHUNK_S} + 1, {CHUNK_W})").alias(
            "chunk"
        ),
    )


def _chunk_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized persisted chunk table (doc_id, ci, chunk) — the
    derived table all three graded chunk consumers (overlap, dedup,
    retrieval recall) re-derive otherwise; one split+explode+slice pass
    per session (plans/memo.py)."""
    from scala_reactivex_spark.plans.memo import session_memo

    # Round-17: widen the documents scan BEFORE chunking (guide §2 —
    # scale-adaptive partitioning).  The fixture's documents table is a
    # single-row-group parquet file, so the scan — and therefore the
    # persisted chunk table and EVERY downstream join/aggregate over it
    # (overlap, dedup, retrieval recall) — ran on one core; the
    # round-robin of the ~10k raw docs costs milliseconds and lets the
    # chunk explode and the 25M-row candidate joins use the whole box.
    # No-op at scale: widen_scan only fires when the scan has fewer
    # partitions than defaultParallelism.
    return session_memo(
        spark,
        sf_dir,
        "chunk_table",
        lambda: chunk_frame(
            widen_scan(table(spark, sf_dir, "documents"), spark)
        ).persist(),
    )


def _chunk_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized inverted postings over the chunk table —
    (tok, doc_id, chunk_idx), one row per distinct token per chunk
    (round 18; the bm25_contrib posture applied to the RAG recall
    probe).  llm_chunk_retrieval_recall previously re-ran the
    array_distinct + explode of every persisted chunk row per
    execution; the postings frame IS the standing retrieval index a
    production RAG eval probes, built once per session and rebuilt
    inside any cold timed run."""
    from scala_reactivex_spark.plans.memo import session_memo

    return session_memo(
        spark,
        sf_dir,
        "chunk_postings",
        lambda: _chunk_table(spark, sf_dir)
        .select(
            "doc_id",
            F.col("ci").alias("chunk_idx"),
            F.explode(F.array_distinct("chunk")).alias("tok"),
        )
        .persist(),
    )


def _chunk_projection(cf: DataFrame) -> DataFrame:
    """The graded chunk projection over a (doc_id, ci, chunk) frame."""
    return cf.select(
        "doc_id",
        F.col("ci").cast("bigint").alias("chunk_idx"),
        (F.col("ci") * CHUNK_S + 1).cast("bigint").alias("start_tok"),
        F.size("chunk").cast("bigint").alias("n_tok"),
        F.md5(F.concat_ws(" ", "chunk").cast("binary")).alias(
            "chunk_md5"
        ),
    )


def chunk_overlap_frame(docs: DataFrame) -> DataFrame:
    """The graded chunk projection over any documents frame (streaming
    twins apply it to the doc stream; batch consumers go through the
    memoized ``_chunk_table``)."""
    return _chunk_projection(chunk_frame(docs))


def _bucketed_table(
    spark: SparkSession, sf_dir: str, tbl: str, key: str
) -> DataFrame:
    """Attach (and on first use, materialize) a bucketed copy of a
    fixture table under ``<repo>/.cache/bucketdemo``.

    The in-memory catalog forgets tables between sessions, but the
    bucketed FILES persist — so each session re-issues the CREATE TABLE
    DDL (metadata only, carries the bucket spec) and only populates when
    the location is empty.  This mirrors production exactly: the
    bucketed layout is written once; every later session re-attaches the
    metastore entry and reads co-partitioned buckets with no shuffle."""
    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    warehouse = os.path.join(repo_root, ".cache", "bucketdemo")
    base = _fixture_tag(sf_dir, tbl)
    name = f"bucketdemo.{tbl}_{base}"
    loc = os.path.join(warehouse, f"{tbl}_{base}")
    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS bucketdemo LOCATION '{warehouse}'"
    )
    if not spark.catalog.tableExists(name):
        src = table(spark, sf_dir, tbl)
        ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in src.schema
        )
        spark.sql(
            f"CREATE TABLE {name} ({ddl}) USING PARQUET "
            f"CLUSTERED BY ({key}) SORTED BY ({key}) "
            f"INTO {N_BUCKETS} BUCKETS "
            f"LOCATION '{loc}'"
        )
        # Populate only when no COMPLETED write exists: _SUCCESS lands
        # last, so a concurrent session's in-flight write is not
        # mistaken for data (head(1) on partial files would be).
        if not os.path.exists(os.path.join(loc, "_SUCCESS")):
            src.write.mode("overwrite").insertInto(name)
    return spark.table(name)


@register(
    "src_bucketed_join",
    tier="T2",
    doc="Shuffle-free co-located join via bucketed tables: lineitem and "
    f"orders each written once bucketed by their join key ({N_BUCKETS} "
    "buckets, sorted), re-attached per session by DDL, then merge-joined "
    "— the executed plan has a SortMergeJoin with ZERO Exchange on the "
    "join keys (pytest-asserted; the only shuffle left is the 5-row "
    "priority rollup).  This is the materialized partitioning story for "
    "100 TB fact-to-fact joins: pay the bucketing write once, skip both "
    "sides' shuffles on every subsequent join on that key.  Output: "
    "order-priority revenue rollup (decimal-exact).",
    oracle="""
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_lines,
       CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
       ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(38,6))) AS DOUBLE), 4) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""",
)
def src_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _bucketed_table(spark, sf_dir, "lineitem", "l_orderkey")
    od = _bucketed_table(spark, sf_dir, "orders", "o_orderkey")
    # merge hint: keep the SortMergeJoin so the co-located bucket read is
    # what executes (AQE would otherwise broadcast at small fixtures and
    # hide the layout's effect — at real scale neither side broadcasts).
    j = li.hint("merge").join(
        od.hint("merge"), F.col("l_orderkey") == F.col("o_orderkey")
    )
    return j.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_lines"),
        F.countDistinct("o_orderkey").cast("bigint").alias("n_orders"),
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "revenue"
        ),
    )


@register(
    "llm_bpe_fertility",
    tier="T3",
    doc="Per-language tokenizer fertility: total symbols per language "
    "before/after the 3 learned BPE merges (composing the graded "
    "llm_bpe_apply per-doc table with the documents language column) "
    "and the compression ratio in 1e4 units — the multilingual-fairness "
    "diagnostic showing which languages pay the most symbols per word "
    "under a shared vocabulary.  Oracle embeds llm_bpe_apply's green "
    "oracle, so the rollup grades as a composition of graded parts.  "
    "Scale shape: the per-doc table hash-aggregates to |langs| rows.",
    oracle=None,  # assigned below (embeds llm_bpe_apply's oracle)
)
def llm_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scala_reactivex_spark.operators.llm_subdoc import llm_bpe_apply

    base = llm_bpe_apply(spark, sf_dir)
    langs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        base.join(langs, "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("syms_before").cast("bigint").alias("syms_before"),
            F.sum("syms_after").cast("bigint").alias("syms_after"),
            F.expr(
                "CAST(sum(syms_after) * 10000 DIV sum(syms_before)"
                " AS BIGINT)"
            ).alias("ratio_1e4"),
        )
    )


peek("llm_bpe_fertility").oracle = f"""
WITH base AS (
{peek("llm_bpe_apply").oracle}
), j AS (
  SELECT d.lang, b.syms_before, b.syms_after
  FROM base b JOIN documents d ON b.doc_id = d.doc_id
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(syms_before) AS BIGINT) AS syms_before,
       CAST(sum(syms_after) AS BIGINT) AS syms_after,
       CAST(sum(syms_after) * 10000 // sum(syms_before) AS BIGINT)
         AS ratio_1e4
FROM j GROUP BY lang
"""


RAG_TOPK = 5  # retrieved chunks per probe query


RAG_QBUDGET = 256  # fixed eval-query budget (scale-invariant cost)


@register(
    "llm_chunk_retrieval_recall",
    tier="T3",
    doc="RAG retrieval acceptance eval — the check that closes the "
    "chunking loop: a deterministic quarter of the held-out "
    "'test'-split documents (content-hash routing as llm_doc_split, "
    "then doc_id % 4), capped at a FIXED budget of "
    f"{RAG_QBUDGET} queries by content-hash rank (round-13: a "
    "fixed-RATE sample grows linearly with the corpus, and the "
    "fixture's 31-word vocabulary — the documented llm_bm25 pathology "
    "— makes every query term match nearly every chunk of its "
    "sub-corpus, so the eval's candidate join blew the probe host's "
    "spill disk at documents ×1000; a recall ESTIMATE needs a fixed "
    "query count, not a fixed fraction.  Selection is two-phase like "
    "llm_reservoir_sample: per-md5-nibble local top-k then a re-rank "
    "over ≤2·k survivors (the eligibility filter keeps only the 'e' "
    "and 'f' nibble buckets, so phase 1 yields at most 2 buckets × k "
    "rows — r13 ADVICE corrected the earlier ≤16·k claim), via a "
    "distributed TakeOrderedAndProject rather than a global "
    "row_number window, so no corpus-wide single-partition sort; "
    "at sf0.01/sf0.1 the eligible count is under the budget and the "
    "output is unchanged) each issue their leading 4 distinct words "
    "as a query "
    "against the FULL chunk "
    "corpus (llm_chunk_overlap geometry); chunks rank by distinct-term "
    f"overlap (ties → doc_id, chunk_idx) and the top {RAG_TOPK} are "
    "emitted with hit = the chunk comes from the query's own document "
    "— recall@k over own-document chunks is the standard sanity bound "
    "a chunk index must clear before production.  Scale shape: "
    "inverted-index equi-join on the term key (query side bounded — "
    "an eval corpus), per-(query, chunk) hash aggregate, top-k window "
    "partitioned per query; identical to llm_bm25's shape.",
    oracle=f"""
WITH d AS (
  SELECT doc_id, text, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n
  FROM documents
), c AS (
  SELECT doc_id, toks,
         CASE WHEN n <= {CHUNK_W} THEN 1
              ELSE 1 + (n - {CHUNK_W} + {CHUNK_S} - 1) // {CHUNK_S}
         END AS nc
  FROM d
), e AS (
  SELECT doc_id, toks, unnest(range(0, nc)) AS ci FROM c
), ct AS (
  SELECT doc_id, ci AS chunk_idx,
         unnest(list_distinct(list_slice(toks, ci * {CHUNK_S} + 1,
                                         ci * {CHUNK_S} + {CHUNK_W})))
           AS tok
  FROM e
), qsel AS (
  SELECT doc_id AS q_id, toks,
         row_number() OVER (ORDER BY md5(text), doc_id) AS qrk
  FROM d WHERE substr(md5(text), 1, 1) >= 'e' AND doc_id % 4 = 0
), q AS (
  SELECT q_id, unnest(list_distinct(list_slice(toks, 1, 4))) AS tok
  FROM qsel WHERE qrk <= {RAG_QBUDGET}
), ov AS (
  SELECT q.q_id, ct.doc_id, ct.chunk_idx,
         CAST(count(*) AS BIGINT) AS overlap
  FROM q JOIN ct ON q.tok = ct.tok
  GROUP BY q.q_id, ct.doc_id, ct.chunk_idx
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY overlap DESC, doc_id, chunk_idx)
            AS rnk
  FROM ov
)
SELECT q_id, CAST(rnk AS BIGINT) AS rnk, doc_id,
       CAST(chunk_idx AS BIGINT) AS chunk_idx, overlap,
       CAST(doc_id = q_id AS INT) AS hit
FROM ranked WHERE rnk <= {RAG_TOPK}
""",
)
def llm_chunk_retrieval_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    # Probe the session-memoized inverted postings (round 18) instead
    # of re-exploding the chunk table per execution.
    ct = _chunk_postings(spark, sf_dir)
    # Fixed-budget query selection, two-phase (no corpus-wide
    # single-partition sort): any global top-k doc is its md5-nibble
    # bucket's top-k, so phase 1 is lossless.  The routing nibble is
    # qh's first hex char (same md5 as _split_expr), so the hash is
    # computed once per row.
    eligible = (
        docs.where(F.col("doc_id") % 4 == 0)
        .select(
            F.col("doc_id").alias("q_id"),
            F.md5(F.col("text").cast("binary")).alias("qh"),
            "text",
        )
        .where(F.substring("qh", 1, 1) >= "e")
    )
    wloc = Window.partitionBy(F.substring("qh", 1, 1)).orderBy(
        "qh", "q_id"
    )
    # Phase 2: re-rank the ≤2·k phase-1 survivors with orderBy+limit —
    # Catalyst compiles this to TakeOrderedAndProject (per-partition
    # partial top-k, bounded merge), not the all-to-one-partition
    # WindowExec a global row_number would plan (r13 ADVICE).  The
    # selected set is identical: the global top-k by (qh, q_id) is the
    # same rows a global rank <= k filter keeps.
    q = (
        eligible.withColumn("lrk", F.row_number().over(wloc))
        .where(F.col("lrk") <= RAG_QBUDGET)
        .orderBy("qh", "q_id")
        .limit(RAG_QBUDGET)
        .select(
            "q_id",
            F.explode(
                F.array_distinct(F.slice(F.split("text", " "), 1, 4))
            ).alias("tok"),
        )
    )
    ov = (
        q.join(ct, "tok")
        .groupBy("q_id", "doc_id", "chunk_idx")
        .agg(F.count("*").cast("bigint").alias("overlap"))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("overlap").desc(), "doc_id", "chunk_idx"
    )
    return (
        ov.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= RAG_TOPK)
        .select(
            "q_id",
            "rnk",
            "doc_id",
            F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
            "overlap",
            (F.col("doc_id") == F.col("q_id")).cast("int").alias("hit"),
        )
    )


def _evolved_events(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per fixture dir) a two-generation parquet layout
    of events under ``<repo>/.cache``: generation v1 carries the original
    columns, generation v2 adds a ``vlen`` column — the schema-drift
    shape every long-lived 100 TB dataset accumulates as producers
    evolve."""
    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    base = _fixture_tag(sf_dir, "events")
    out = os.path.join(repo_root, ".cache", f"events_evolved_{base}")
    marker = os.path.join(out, "_DONE")
    if not os.path.exists(marker):
        ev = table(spark, sf_dir, "events").select(
            "event_id", "user_id", "value", "props"
        )
        v1 = ev.where(F.col("event_id") % 2 == 0).select(
            "event_id", "user_id", "value"
        )
        v2 = ev.where(F.col("event_id") % 2 == 1).select(
            "event_id",
            "user_id",
            "value",
            F.length("props").cast("bigint").alias("vlen"),
        )
        v1.write.mode("overwrite").parquet(os.path.join(out, "gen=v1"))
        v2.write.mode("overwrite").parquet(os.path.join(out, "gen=v2"))
        open(marker, "w").close()
    return out


@register(
    "src_schema_evolution",
    tier="T2",
    doc="Schema-evolution read: the events table written as two parquet "
    "generations (v1 without, v2 with a later-added ``vlen`` column), "
    "read back in ONE scan with ``mergeSchema`` — rows from the old "
    "generation surface NULL for the new column, exactly how a "
    "long-lived dataset behaves as producers evolve.  The rollup "
    "groups by column presence and reconciles counts/sums across "
    "generations.  Scale note: mergeSchema footer reconciliation is "
    "a one-time planning cost per scan; production pins the merged "
    "schema in a catalog so the read path stays footer-free.",
    oracle="""
WITH unioned AS (
  SELECT event_id, user_id, value, NULL AS vlen
  FROM events WHERE event_id % 2 = 0
  UNION ALL
  SELECT event_id, user_id, value, CAST(len(props) AS BIGINT) AS vlen
  FROM events WHERE event_id % 2 = 1
)
SELECT CAST(vlen IS NOT NULL AS INT) AS has_new_col,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 4)
         AS total_value,
       CAST(coalesce(sum(vlen), 0) AS BIGINT) AS sum_vlen
FROM unioned GROUP BY 1
""",
)
def src_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _evolved_events(spark, sf_dir)
    ev = (
        spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "false")
        .parquet(path)
    )
    return ev.groupBy(
        F.col("vlen").isNotNull().cast("int").alias("has_new_col")
    ).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        dsum("value").alias("total_value"),
        F.coalesce(F.sum("vlen"), F.lit(0)).cast("bigint").alias(
            "sum_vlen"
        ),
    )


SALT_BUCKETS = 8  # fan-out for the salted skew join


@register(
    "rel_join_skew_salted",
    tier="T2",
    doc="Salted skew join — the standard remedy when one join key "
    "dominates a fact-to-fact shuffle and AQE's skew splitting cannot "
    f"apply (e.g. pre-3.0 sinks, bucketed layouts): the big side salts "
    f"its key into {SALT_BUCKETS} deterministic sub-keys "
    "(l_linenumber % S — any per-row value works), the smaller side "
    "replicates once per salt via sequence+explode, and the join runs "
    "on (key, salt) so a hot key's rows spread over S partitions "
    "instead of one straggler.  Results are provably identical to the "
    "unsalted join (the oracle IS the plain join; a pytest also "
    "asserts the salted exchange hashes on both key and salt).  "
    "Replication cost: S× the SMALLER side only — the knob a 100 TB "
    "job tunes against its hottest key's share.  Output: status × "
    "ship-year revenue rollup, decimal-exact.",
    oracle="""
SELECT o_orderstatus, CAST(year(l_shipdate) AS BIGINT) AS ship_year,
       CAST(count(*) AS BIGINT) AS n_lines,
       ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(38,6))) AS DOUBLE), 4) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus, year(l_shipdate)
""",
)
def rel_join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").withColumn(
        "salt", (F.col("l_linenumber") % SALT_BUCKETS).cast("int")
    )
    od = table(spark, sf_dir, "orders").withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(SALT_BUCKETS - 1)))
    )
    j = li.hint("merge").join(
        od.hint("merge"),
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (li["salt"] == od["salt"]),
    )
    return j.groupBy(
        "o_orderstatus",
        F.year("l_shipdate").cast("bigint").alias("ship_year"),
    ).agg(
        F.count("*").cast("bigint").alias("n_lines"),
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "revenue"
        ),
    )


CHUNK_DUP_MIN_DOCS = 2  # a chunk is boilerplate when ≥ this many docs share it


@register(
    "llm_chunk_dedup",
    tier="T3",
    doc="Chunk-level cross-document dedup — the stage between chunking "
    "and indexing: identical chunks appearing in "
    f"≥{CHUNK_DUP_MIN_DOCS} distinct documents are boilerplate "
    "(headers, licenses, navigation) that would dominate retrieval "
    "results; the profile lists each such chunk's content hash, total "
    "occurrences, distinct-document span and an example document.  "
    "Complements llm_line_dedup (line granularity) and "
    "llm_dedup_substring (intra-document runs): retrieval indexes "
    "dedup at exactly the retrieval unit.  Scale shape: chunk "
    "generation is shuffle-free; the profile is ONE hash aggregate "
    "keyed on the chunk md5 — linear, map-side combined.",
    oracle=f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n
  FROM documents
), c AS (
  SELECT doc_id, toks,
         CASE WHEN n <= {CHUNK_W} THEN 1
              ELSE 1 + (n - {CHUNK_W} + {CHUNK_S} - 1) // {CHUNK_S}
         END AS nc
  FROM d
), e AS (
  SELECT doc_id, toks, unnest(range(0, nc)) AS ci FROM c
), ch AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(toks, ci * {CHUNK_S} + 1,
                                        ci * {CHUNK_S} + {CHUNK_W}), ' '))
           AS chunk_md5
  FROM e
)
SELECT chunk_md5,
       CAST(count(*) AS BIGINT) AS n_occur,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS example_doc
FROM ch GROUP BY chunk_md5
HAVING count(DISTINCT doc_id) >= {CHUNK_DUP_MIN_DOCS}
""",
)
def llm_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = _chunk_table(spark, sf_dir).select(
        "doc_id",
        F.md5(F.concat_ws(" ", "chunk").cast("binary")).alias("chunk_md5"),
    )
    return (
        ch.groupBy("chunk_md5")
        .agg(
            F.count("*").cast("bigint").alias("n_occur"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("example_doc"),
        )
        .where(F.col("n_docs") >= CHUNK_DUP_MIN_DOCS)
    )


KANON_K = 10  # minimum group size for quasi-identifier release
KANON_BAND = 200  # n_chars banding width (coarse length bucket)


@register(
    "llm_kanon_audit",
    tier="T3",
    doc="k-anonymity audit over quasi-identifiers — the privacy-release "
    "check before publishing corpus slices or metadata: every "
    f"(lang, source, length-band of {KANON_BAND} chars) group with "
    f"fewer than k={KANON_K} documents is a re-identification risk and "
    "must be suppressed or generalized before release; the audit lists "
    "exactly those groups with their sizes.  PII scrubbing "
    "(llm_pii_scrub) removes direct identifiers; this catches the "
    "INDIRECT ones (the combination of innocuous attributes that "
    "isolates a document).  Scale shape: one hash aggregate over the "
    "quasi-identifier tuple + a size filter — linear, map-side "
    "combined; the violating-group list is output-bounded.",
    oracle=f"""
SELECT lang, source,
       CAST(n_chars // {KANON_BAND} AS BIGINT) AS len_band,
       CAST(count(*) AS BIGINT) AS n_docs
FROM documents
GROUP BY lang, source, n_chars // {KANON_BAND}
HAVING count(*) < {KANON_K}
""",
)
def llm_kanon_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "documents")
        .groupBy(
            "lang",
            "source",
            F.expr(f"CAST(n_chars DIV {KANON_BAND} AS BIGINT)").alias(
                "len_band"
            ),
        )
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .where(F.col("n_docs") < KANON_K)
    )


@register(
    "llm_cluster_purity",
    tier="T3",
    doc="Clustering-evaluation purity: the k-means assignment "
    "(llm_kmeans, whose green oracle this one embeds) joined to the "
    "embedding labels — per cluster, the member count, distinct-label "
    "count, majority label (ties → smallest label) and integer purity "
    "share.  THE standard external-validation number for any corpus "
    "bucketing: low purity means the clusters don't track the labels "
    "and downstream per-cluster decisions (semdedup drops, mixture "
    "weights) inherit noise.  Scale shape: the |corpus|-row assignment "
    "aggregates to (K × labels) cells, then K rows.",
    oracle=None,  # assigned below (embeds llm_kmeans' oracle)
)
def llm_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scala_reactivex_spark.operators.llm_cluster import (
        _kmeans_assignment,
    )

    asg = _kmeans_assignment(spark, sf_dir)
    lab = table(spark, sf_dir, "embeddings").select("vec_id", "label")
    lc = (
        asg.join(lab, "vec_id")
        .groupBy("cluster_id", "label")
        .agg(F.count("*").alias("c"))
    )
    agg = lc.groupBy("cluster_id").agg(
        F.sum("c").cast("bigint").alias("n_vecs"),
        F.count("*").cast("bigint").alias("n_labels"),
        F.max("c").alias("mc"),
    )
    maj = (
        lc.join(agg, "cluster_id")
        .where(F.col("c") == F.col("mc"))
        .groupBy("cluster_id")
        .agg(F.min("label").cast("bigint").alias("maj_label"))
    )
    return (
        agg.join(maj, "cluster_id")
        .select(
            "cluster_id",
            "n_vecs",
            "n_labels",
            "maj_label",
            F.col("mc").cast("bigint").alias("maj_n"),
            F.expr("CAST(mc * 10000 DIV n_vecs AS BIGINT)").alias(
                "purity_1e4"
            ),
        )
    )


peek("llm_cluster_purity").oracle = f"""
WITH asg AS (
{peek("llm_kmeans").oracle}
), j AS (
  SELECT a.cluster_id, e.label
  FROM asg a JOIN embeddings e ON a.vec_id = e.vec_id
), lc AS (
  SELECT cluster_id, label, count(*) AS c FROM j GROUP BY 1, 2
), agg AS (
  SELECT cluster_id, CAST(sum(c) AS BIGINT) AS n_vecs,
         CAST(count(*) AS BIGINT) AS n_labels, max(c) AS mc
  FROM lc GROUP BY cluster_id
), maj AS (
  SELECT l.cluster_id, CAST(MIN(l.label) AS BIGINT) AS maj_label
  FROM lc l JOIN agg a ON l.cluster_id = a.cluster_id AND l.c = a.mc
  GROUP BY l.cluster_id
)
SELECT a.cluster_id, a.n_vecs, a.n_labels, m.maj_label,
       CAST(a.mc AS BIGINT) AS maj_n,
       CAST(a.mc * 10000 // a.n_vecs AS BIGINT) AS purity_1e4
FROM agg a JOIN maj m ON a.cluster_id = m.cluster_id
"""


@register(
    "llm_ivf_stats",
    tier="T3",
    doc="IVF index health: bucket-size envelope and imbalance factor "
    "(max bucket / average bucket, 1e4 units) over the learned-centroid "
    "assignment that llm_ann_ivf searches — THE acceptance number for "
    "an IVF deployment, because probe latency is the HOT bucket's size: "
    "an imbalance of 3x means worst-case queries scan 3x the 1/K "
    "average and the centroid training needs rebalancing.  Oracle "
    "reuses the graded IVF oracle's assignment prefix verbatim (same "
    "split-reuse as llm_ann_ivf_mp).  Scale shape: the |corpus|-row "
    "assignment hash-aggregates to K rows, then one row.",
    oracle=None,  # assigned below (reuses llm_ann_ivf's oracle prefix)
)
def llm_ivf_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scala_reactivex_spark.operators.llm_similarity import _ivf_index

    _, _, assignment = _ivf_index(spark, sf_dir)
    sizes = assignment.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n_vecs")
    )
    return sizes.agg(
        F.count("*").cast("bigint").alias("n_buckets"),
        F.sum("n_vecs").cast("bigint").alias("n_total"),
        F.max("n_vecs").cast("bigint").alias("max_bucket"),
        F.min("n_vecs").cast("bigint").alias("min_bucket"),
        F.expr(
            "CAST(max(n_vecs) * count(*) * 10000 DIV sum(n_vecs)"
            " AS BIGINT)"
        ).alias("imbalance_1e4"),
    )


def _ivf_assignment_prefix() -> str:
    """The shared seed→Lloyd→assignment CTE chain, composed from the
    named constant in llm_similarity (no string-splitting of oracle
    text — round-7 ADVICE)."""
    from scala_reactivex_spark.operators import llm_similarity

    return llm_similarity._IVF_ASSIGNMENT_CTES


peek("llm_ivf_stats").oracle = f"""
{_ivf_assignment_prefix()}, sizes AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS n_vecs
  FROM assignment GROUP BY bucket
)
SELECT CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(n_vecs) AS BIGINT) AS n_total,
       CAST(max(n_vecs) AS BIGINT) AS max_bucket,
       CAST(min(n_vecs) AS BIGINT) AS min_bucket,
       CAST(max(n_vecs) * count(*) * 10000 // sum(n_vecs) AS BIGINT)
         AS imbalance_1e4
FROM sizes
"""
