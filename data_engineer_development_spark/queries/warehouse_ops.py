"""Warehouse maintenance operators: SCD type-2 merge, row-level data
quality rules with quarantine buckets, and value-distribution histograms.

These extend the reference's truncate-and-reload warehouse (export_svg.py
CTAS dims; the quality zone's sentinel cleansing) with the stateful /
diagnostic operators a production deployment grows into: versioned
dimensions, rule-tagged quarantine, and distribution monitoring.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineer_development_spark.cache import local_checkpoint_tracked, overlap
from data_engineer_development_spark.sources import load_table, register_views


# --------------------------------------------------------------------------
# SCD2 merge: the customer dim versioned on (mktsegment, acctbal). The
# "current" state and the "update" snapshot are both derived
# deterministically from the customer table (keys < 800 are current;
# keys < 1000 are in the snapshot with every 7th acctbal bumped), so the
# DuckDB oracle can replay the exact merge outcome: every 7th key closes
# 2024-01-01→2024-06-01 and re-opens, keys 800-999 insert fresh, the rest
# pass through untouched. One full-outer join + unions — scale-safe.
# --------------------------------------------------------------------------
_SCD_EFF = "2024-06-01"
_SCD_START = "2024-01-01"
_SCD_CUR = 800
_SCD_SNAP = 1000


def q_scd2_customer_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineer_development_spark.operators.scd import scd2_apply

    cust = load_table(spark, sf_dir, "customer")
    current = cust.filter(F.col("c_custkey") < _SCD_CUR).select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.lit(_SCD_START).cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    updates = cust.filter(F.col("c_custkey") < _SCD_SNAP).select(
        "c_custkey",
        "c_mktsegment",
        F.when(
            F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + F.lit(100.0)
        )
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
    )
    return scd2_apply(
        current,
        updates,
        "c_custkey",
        ["c_mktsegment", "c_acctbal"],
        _SCD_EFF,
    ).orderBy("c_custkey", "valid_from")


_SCD2_SQL = f"""
WITH current AS (
  SELECT c_custkey, c_mktsegment, c_acctbal,
         DATE '{_SCD_START}' AS valid_from, CAST(NULL AS DATE) AS valid_to
  FROM customer WHERE c_custkey < {_SCD_CUR}),
updates AS (
  SELECT c_custkey, c_mktsegment,
         CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
              ELSE c_acctbal END AS c_acctbal
  FROM customer WHERE c_custkey < {_SCD_SNAP}),
j AS (SELECT c.c_custkey AS ck, u.c_custkey AS uk,
             c.c_mktsegment AS cm, c.c_acctbal AS cb,
             u.c_mktsegment AS um, u.c_acctbal AS ub,
             c.valid_from AS vf
      FROM current c FULL JOIN updates u ON c.c_custkey = u.c_custkey),
changed AS (SELECT *, ck IS NOT NULL AND uk IS NOT NULL
                      AND (cm IS DISTINCT FROM um OR cb IS DISTINCT FROM ub)
                      AS chg
            FROM j)
SELECT ck AS c_custkey, cm AS c_mktsegment, cb AS c_acctbal,
       vf AS valid_from, CAST(NULL AS DATE) AS valid_to
FROM changed WHERE ck IS NOT NULL AND NOT chg
UNION ALL
SELECT ck, cm, cb, vf, DATE '{_SCD_EFF}' FROM changed WHERE chg
UNION ALL
SELECT uk, um, ub, DATE '{_SCD_EFF}', CAST(NULL AS DATE)
FROM changed WHERE chg OR ck IS NULL
ORDER BY c_custkey, valid_from
"""


# --------------------------------------------------------------------------
# Row-level rule validation: each row is tagged with the comma-joined list
# of rules it violates ('' = clean), then counted per violation signature —
# the quarantine-split diagnostic. concat_ws skips NULLs in both engines,
# so the same CASE chain runs verbatim as the oracle. Pure projection +
# one keyed aggregate; the rules evaluate at scan speed inside codegen.
# --------------------------------------------------------------------------
_QUARANTINE_SQL = """
SELECT concat_ws(',',
         CASE WHEN l_quantity > 45 THEN 'qty_gt45' END,
         CASE WHEN l_discount > 0.08 THEN 'disc_gt8pct' END,
         CASE WHEN l_tax > 0.06 THEN 'tax_gt6pct' END) AS violations,
       COUNT(*) AS n
FROM lineitem GROUP BY 1 ORDER BY 1
"""


def q_rule_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, "lineitem")
    return spark.sql(_QUARANTINE_SQL)


# --------------------------------------------------------------------------
# Value-distribution histogram (fixed-width buckets by floor division —
# identical arithmetic in both engines). One hash aggregate; at 100 TB the
# per-bucket partials collapse map-side so the shuffle is #buckets rows.
# --------------------------------------------------------------------------
_HISTOGRAM_SQL = """
SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
       COUNT(*) AS n,
       CAST(MIN(o_totalprice) AS DOUBLE) AS lo,
       CAST(MAX(o_totalprice) AS DOUBLE) AS hi
FROM orders GROUP BY 1 ORDER BY 1
"""


def q_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, "orders")
    return spark.sql(_HISTOGRAM_SQL)


# --------------------------------------------------------------------------
# Incremental view maintenance: merge partial aggregate STATES instead of
# recomputing. The base slice (history) and the delta slice (new arrivals)
# each reduce to (group, count, decimal-sum) partials; the merged view
# re-aggregates the two partial sets — count-sum and sum-sum are the state
# merge functions. At 100 TB this is THE pattern for daily rollups: the
# base partials are a tiny materialized table, each day only the delta
# scans, and decimal addition's associativity makes merged == full-recompute
# bit-for-bit (asserted by the oracle, which computes the full aggregate
# directly — the equality IS the test).
# --------------------------------------------------------------------------
_INCR_CUT = "1999-01-01"


def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("o_totalprice").cast("decimal(20,4)")).alias("tot"),
        )

    base = partial(orders.filter(F.col("o_orderdate") < _INCR_CUT))
    delta = partial(orders.filter(F.col("o_orderdate") >= _INCR_CUT))
    return (
        base.unionByName(delta)
        .groupBy("o_orderstatus")
        .agg(F.sum("cnt").alias("n_orders"), F.sum("tot").alias("t"))
        .select(
            "o_orderstatus",
            "n_orders",
            F.round(F.col("t"), 4).cast("double").alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


# the oracle recomputes the FULL aggregate in one pass: matching it proves
# the partial-state merge is lossless
_INCREMENTAL_AGG_SQL = """
SELECT o_orderstatus, COUNT(*) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(20,4))), 4) AS DOUBLE)
           AS total_price
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


# --------------------------------------------------------------------------
# Incremental JOIN maintenance — STAGED for r14+ registration: extend the
# incremental_agg state-merge pattern to a JOIN view. The maintained view
# is an aggregate over orders ⋈ lineitem; when both sides receive deltas
# (ΔA, ΔB — here deterministic md5 slices standing in for a day's
# arrivals), the delta algebra says the new view is the OLD view merged
# with exactly three delta terms:
#
#     agg(A⋈B) = agg(A₀⋈B₀) ⊕ agg(ΔA⋈B₀) ⊕ agg(A₀⋈ΔB) ⊕ agg(ΔA⋈ΔB)
#
# — none of which touches base⋈base again (at 100 TB the first term IS
# the stored materialization; each maintenance run joins only
# delta-sized inputs against the other side, the whole point). The Spark
# side computes the view THROUGH the four-term merge; the DuckDB oracle
# computes the full join aggregate in one pass — hash equality proves the
# maintenance identity loses nothing, cross-engine (the incremental_agg
# discipline). Counts merge by sum; sums by decimal addition
# (associative, so bit-exact under any merge order).
# --------------------------------------------------------------------------
def q_incremental_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineer_development_spark.functions.portable_hash import (
        spark_md5_int,
    )

    ha = spark_md5_int("concat('a', o_orderkey)")
    hb = spark_md5_int("concat('b', l_orderkey)")
    from data_engineer_development_spark.cache import track_persist

    # each side feeds two of the four delta terms — persist the slim
    # flagged projection so the scan + md5 run once per side, not four
    # times (at 100 TB the base/delta slices are separate stored tables
    # and this persist does not exist; here it mirrors that storage)
    o = track_persist(
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_orderpriority",
            F.expr(f"{ha} % 4 = 0").alias("da"),
        )
    )
    li = track_persist(
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey",
            "l_quantity",
            F.expr(f"{hb} % 4 = 0").alias("db"),
        )
    )
    a0, da = o.filter(~F.col("da")), o.filter(F.col("da"))
    b0, db = li.filter(~F.col("db")), li.filter(F.col("db"))

    def term(a: DataFrame, b: DataFrame) -> DataFrame:
        return (
            a.join(b, a["o_orderkey"] == b["l_orderkey"])
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum(F.col("l_quantity").cast("decimal(20,4)")).alias("q"),
            )
        )

    merged = (
        term(a0, b0)  # the stored materialization (recomputed only here)
        .unionByName(term(da, b0))
        .unionByName(term(a0, db))
        .unionByName(term(da, db))
        .groupBy("o_orderpriority")
        .agg(F.sum("cnt").alias("n_items"), F.sum("q").alias("t"))
    )
    return merged.select(
        "o_orderpriority",
        "n_items",
        F.round(F.col("t"), 4).cast("double").alias("sum_qty"),
    ).orderBy("o_orderpriority")


# the oracle computes the full join aggregate in ONE pass: matching it
# proves the four-term delta merge is lossless
_INCREMENTAL_JOIN_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_items,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(20,4))), 4) AS DOUBLE)
           AS sum_qty
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# --------------------------------------------------------------------------
# Small-file compaction planner (the OPTIMIZE/compact step of a lakehouse
# table maintenance loop). Each document stands in for one data file of
# n_chars bytes inside its `source` partition; files are packed next-fit in
# doc_id order into groups targeting _COMPACT_TARGET bytes (a group closes
# once its cumulative size crosses a multiple of the target). One window
# cumsum per partition — at 100 TB this runs over the FILE LISTING (one row
# per file, metadata scale), not the data, so a per-partition window is
# cheap and embarrassingly parallel across `source` partitions.
# --------------------------------------------------------------------------
_COMPACT_TARGET = 16_384


def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    grp = F.floor(
        (F.sum("n_chars").over(w) - F.col("n_chars")) / F.lit(_COMPACT_TARGET)
    )
    return (
        docs.withColumn("group_id", grp)
        .groupBy("source", "group_id")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("n_chars").alias("total_bytes"),
            F.min("doc_id").alias("first_file"),
        )
        .orderBy("source", "group_id")
    )


_COMPACTION_SQL = f"""
WITH f AS (SELECT doc_id, source, n_chars,
                  SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                      ROWS UNBOUNDED PRECEDING) - n_chars AS prior
           FROM documents)
SELECT source, CAST(FLOOR(prior / {_COMPACT_TARGET}) AS BIGINT) AS group_id,
       COUNT(*) AS n_files, CAST(SUM(n_chars) AS BIGINT) AS total_bytes,
       MIN(doc_id) AS first_file
FROM f GROUP BY 1, 2 ORDER BY 1, 2
"""


# --------------------------------------------------------------------------
# Key-skew profile: log2-bucketed frequency histogram of events.user_id —
# the diagnostic a pipeline runs BEFORE choosing a salting factor for a
# skewed join/agg (operators/joins.py salted_agg). Bucket = bit-length of
# the per-key count (length of its binary rendering: exact integer math in
# both engines — no float log2 whose boundary rounding could diverge).
# Two hash aggregations, both with map-side combine.
# --------------------------------------------------------------------------
def q_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id")
    per_key = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    return (
        per_key.withColumn("bucket", F.length(F.bin(F.col("c"))))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("c").alias("n_rows"),
            F.max("c").alias("max_rows_per_key"),
        )
        .orderBy("bucket")
    )


_SKEW_PROFILE_SQL = """
WITH per_key AS (SELECT user_id, COUNT(*) AS c FROM events GROUP BY user_id)
SELECT CAST(length(printf('%b', c)) AS INTEGER) AS bucket,
       COUNT(*) AS n_keys, CAST(SUM(c) AS BIGINT) AS n_rows,
       MAX(c) AS max_rows_per_key
FROM per_key GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# Hourly-volume anomaly detection: per event_type, flag hours whose event
# count sits more than 2 population standard deviations from that type's
# hourly mean. The 2σ test is evaluated in INTEGER arithmetic —
# (c·n − s)² > 4·(n·ssq − s²) is |c − s/n| > 2σ with both sides scaled by
# n² — so Spark and the oracle agree bit-for-bit (no float mean/stddev).
# Operands stay < 2^63 while total events < ~3M·√hours; beyond that, cast
# the same expressions to DECIMAL(38,0). Plan: one hourly hash agg, one
# per-type stats agg broadcast back — two shuffles, both key-partitioned.
# --------------------------------------------------------------------------
def q_event_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    )
    hourly = ev.groupBy("event_type", "hour").agg(
        F.count(F.lit(1)).alias("c")
    )
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("ssq"),
    )
    dev = F.col("c") * F.col("n") - F.col("s")
    var_n2 = F.col("n") * F.col("ssq") - F.col("s") * F.col("s")
    return (
        hourly.join(F.broadcast(stats), "event_type")
        .filter(dev * dev > F.lit(4) * var_n2)
        .select("event_type", "hour", "c")
        .orderBy("event_type", "hour")
    )


_EVENT_ANOMALY_SQL = """
WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS hour,
                       COUNT(*) AS c
                FROM events GROUP BY 1, 2),
stats AS (SELECT event_type, COUNT(*) AS n, SUM(c) AS s, SUM(c * c) AS ssq
          FROM hourly GROUP BY 1)
SELECT h.event_type, h.hour, h.c
FROM hourly h JOIN stats t ON h.event_type = t.event_type
WHERE (h.c * t.n - t.s) * (h.c * t.n - t.s)
      > 4 * (t.n * t.ssq - t.s * t.s)
ORDER BY 1, 2
"""


# --------------------------------------------------------------------------
# Snapshot diff (CDC-style change detection): compare yesterday's orders
# snapshot (o_orderkey % 11 != 0, totalprice as-was) with today's (every
# 13th key re-priced, keys % 11 == 0 newly arrived) and classify each key
# as added / removed / changed / unchanged — counted per class. The row
# comparison hashes the non-key payload (md5 of a canonical concat) so the
# diff never carries wide payloads through the join — at 100 TB the
# full-outer join shuffles (key, 60-bit hash) pairs only. Both snapshots
# derive deterministically from `orders` so the oracle replays the diff.
# --------------------------------------------------------------------------
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    old = orders.filter(F.col("o_orderkey") % 11 != 0)
    new = orders.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 13 == 0, F.col("o_totalprice") + F.lit(1.0)
        ).otherwise(F.col("o_totalprice")),
    )

    def hashed(df: DataFrame, tag: str) -> DataFrame:
        payload = F.md5(
            F.concat_ws(
                "|",
                F.col("o_totalprice").cast("decimal(15,2)").cast("string"),
                "o_orderstatus",
            )
        )
        return df.select("o_orderkey", payload.alias(f"h_{tag}"))

    diff = hashed(old, "old").join(
        hashed(new, "new"), "o_orderkey", "full_outer"
    )
    cls = (
        F.when(F.col("h_old").isNull(), F.lit("added"))
        .when(F.col("h_new").isNull(), F.lit("removed"))
        .when(F.col("h_old") != F.col("h_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        diff.select(cls.alias("change"))
        .groupBy("change")
        .agg(F.count(F.lit(1)).alias("n_keys"))
        .orderBy("change")
    )


_SNAPSHOT_DIFF_SQL = """
WITH old AS (SELECT o_orderkey,
                    md5(concat_ws('|',
                        CAST(CAST(o_totalprice AS DECIMAL(15,2)) AS VARCHAR),
                        o_orderstatus)) AS h_old
             FROM orders WHERE o_orderkey % 11 != 0),
new AS (SELECT o_orderkey,
               md5(concat_ws('|',
                   CAST(CAST(CASE WHEN o_orderkey % 13 = 0
                             THEN o_totalprice + 1.0 ELSE o_totalprice END
                        AS DECIMAL(15,2)) AS VARCHAR),
                   o_orderstatus)) AS h_new
        FROM orders)
SELECT CASE WHEN h_old IS NULL THEN 'added'
            WHEN h_new IS NULL THEN 'removed'
            WHEN h_old != h_new THEN 'changed'
            ELSE 'unchanged' END AS change,
       COUNT(*) AS n_keys
FROM old FULL OUTER JOIN new USING (o_orderkey)
GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# Referential-integrity audit: for each foreign-key edge of the star
# schema, count rows whose FK has no match in the parent (plus the rows
# checked, so a clean run still reports). Each edge is one left-anti-
# shaped aggregate — expressed as LEFT JOIN + COUNT(parent IS NULL) so all
# edges union into one result. Dimension parents broadcast; the
# lineitem→orders edge shuffles on the key like any fact join.
# --------------------------------------------------------------------------
def q_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    def edge(
        child: DataFrame, parent: DataFrame, fk: str, pk: str, name: str
    ) -> DataFrame:
        j = child.select(F.col(fk).alias("fk")).join(
            parent.select(F.col(pk).alias("pk")),
            F.col("fk") == F.col("pk"),
            "left",
        )
        return j.agg(
            F.lit(name).alias("fk_edge"),
            F.count(F.lit(1)).alias("n_rows"),
            F.count(F.when(F.col("pk").isNull(), 1)).alias("n_orphans"),
        )

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    edges = [
        edge(li, orders, "l_orderkey", "o_orderkey", "lineitem->orders"),
        edge(orders, cust, "o_custkey", "c_custkey", "orders->customer"),
        edge(cust, nation, "c_nationkey", "n_nationkey", "customer->nation"),
        edge(supp, nation, "s_nationkey", "n_nationkey", "supplier->nation"),
        edge(emb, docs, "vec_id", "doc_id", "embeddings->documents"),
    ]
    out = edges[0]
    for e in edges[1:]:
        out = out.unionByName(e)
    return out.orderBy("fk_edge")


_FK_INTEGRITY_SQL = """
SELECT 'lineitem->orders' AS fk_edge, COUNT(*) AS n_rows,
       COUNT(CASE WHEN o.o_orderkey IS NULL THEN 1 END) AS n_orphans
FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
UNION ALL
SELECT 'orders->customer', COUNT(*),
       COUNT(CASE WHEN c.c_custkey IS NULL THEN 1 END)
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
UNION ALL
SELECT 'customer->nation', COUNT(*),
       COUNT(CASE WHEN n.n_nationkey IS NULL THEN 1 END)
FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
UNION ALL
SELECT 'supplier->nation', COUNT(*),
       COUNT(CASE WHEN n.n_nationkey IS NULL THEN 1 END)
FROM supplier s LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
UNION ALL
SELECT 'embeddings->documents', COUNT(*),
       COUNT(CASE WHEN d.doc_id IS NULL THEN 1 END)
FROM embeddings e LEFT JOIN documents d ON e.vec_id = d.doc_id
ORDER BY fk_edge
"""


# --------------------------------------------------------------------------
# Range-partition planner: the boundary table a sorted/range-partitioned
# writer needs (Spark's repartitionByRange samples; this is the exact,
# deterministic version a planner can pin). Prices collapse to 1000-wide
# bins first — a BOUNDED domain, so the cumulative window runs over a tiny
# histogram (same discipline as text_length_trim), never over rows. For
# each of the 7 interior boundaries of an 8-way split, emit the first bin
# whose cumulative count crosses k/8 of the total — pure integer
# crossing test (8·cum ≥ k·N and 8·(cum−c) < k·N), bit-identical in both
# engines.
# --------------------------------------------------------------------------
_RANGE_BINS = 1000
_RANGE_SPLITS = 8


def q_range_partition_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") / _RANGE_BINS).alias("bin")
    )
    hist = orders.groupBy("bin").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wtot = Window.partitionBy()
    cum = hist.select(
        "bin",
        "c",
        F.sum("c").over(w).alias("cum"),
        F.sum("c").over(wtot).alias("n"),
    )
    k = F.explode(
        F.sequence(F.lit(1), F.lit(_RANGE_SPLITS - 1))
    ).alias("k")
    return (
        cum.select("bin", "c", "cum", "n", k)
        .filter(
            (_RANGE_SPLITS * F.col("cum") >= F.col("k") * F.col("n"))
            & (
                _RANGE_SPLITS * (F.col("cum") - F.col("c"))
                < F.col("k") * F.col("n")
            )
        )
        .select(
            "k",
            F.col("bin").alias("boundary_bin"),
            F.col("cum").alias("cum_rows"),
        )
        .orderBy("k")
    )


_RANGE_PLAN_SQL = f"""
WITH hist AS (SELECT CAST(FLOOR(o_totalprice / {_RANGE_BINS}) AS BIGINT)
                     AS bin, COUNT(*) AS c
              FROM orders GROUP BY 1),
cum AS (SELECT bin, c,
               SUM(c) OVER (ORDER BY bin
                            ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(c) OVER () AS n
        FROM hist)
SELECT k, bin AS boundary_bin, CAST(cum AS BIGINT) AS cum_rows
FROM cum, LATERAL unnest(range(1, {_RANGE_SPLITS})) AS u(k)
WHERE {_RANGE_SPLITS} * cum >= k * n
  AND {_RANGE_SPLITS} * (cum - c) < k * n
ORDER BY k
"""


# --------------------------------------------------------------------------
# Entity-resolution candidate pairs: blocking + string distance — the
# classic dedup shape for ENTITY tables (the document-side dual lives in
# operators/dedup.py). Blocks are (mktsegment, 100-wide balance bucket);
# candidates are same-block pairs whose names are within edit distance 1
# (JVM levenshtein — identical algorithm in DuckDB). The self-join is an
# EQUI-join on the block key with a key-order tiebreak, so the worst case
# is Σ|block|², never |table|² — the scale contract of every blocking
# scheme, and block WIDTH is the throughput knob: 1000-wide buckets made
# ~300-row blocks at sf0.1 (2.2M levenshtein evals, 22 s); 100-wide cuts
# blocks ~10× and the measured cost to ~3 s. Hot blocks are what
# skew_profile exists to catch.
# --------------------------------------------------------------------------
def q_er_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 100).alias("bb"),
    )
    a, b = cust.alias("a"), cust.alias("b")
    return (
        a.join(
            b,
            (F.col("a.c_mktsegment") == F.col("b.c_mktsegment"))
            & (F.col("a.bb") == F.col("b.bb"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .filter(
            F.levenshtein(F.col("a.c_name"), F.col("b.c_name")) <= 1
        )
        .select(
            F.col("a.c_custkey").alias("custkey1"),
            F.col("b.c_custkey").alias("custkey2"),
            F.levenshtein(F.col("a.c_name"), F.col("b.c_name")).alias(
                "name_dist"
            ),
        )
        .orderBy("custkey1", "custkey2")
    )


_ER_PAIRS_SQL = """
WITH c AS (SELECT c_custkey, c_name, c_mktsegment,
                  CAST(FLOOR(c_acctbal / 100) AS BIGINT) AS bb
           FROM customer)
SELECT a.c_custkey AS custkey1, b.c_custkey AS custkey2,
       CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS name_dist
FROM c a JOIN c b
  ON a.c_mktsegment = b.c_mktsegment AND a.bb = b.bb
 AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 1
ORDER BY custkey1, custkey2
"""


# --------------------------------------------------------------------------
# Temporal (as-of) dimension join: fact rows joined to the dim VERSION in
# effect on the fact date — the read side of SCD2 (scd2_customer_merge is
# the write side). The versioned dim derives deterministically from
# customer (every 7th key re-priced at the 1996-01-01 effective date) so
# the oracle replays it. Plan: the dim is 2 rows/key and broadcasts; the
# as-of predicate (valid_from <= d < valid_to) evaluates inside the
# broadcast hash join on the key — never a range-only join.
# --------------------------------------------------------------------------
_TDJ_EFF = "1996-01-01"


def q_temporal_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    v1 = cust.select(
        "c_custkey",
        "c_mktsegment",
        F.col("c_acctbal").alias("bal"),
        F.lit("1992-01-01").cast("date").alias("valid_from"),
        F.lit(_TDJ_EFF).cast("date").alias("valid_to"),
    )
    v2 = cust.select(
        "c_custkey",
        "c_mktsegment",
        F.when(
            F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + F.lit(100.0)
        ).otherwise(F.col("c_acctbal")).alias("bal"),
        F.lit(_TDJ_EFF).cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    dim = v1.unionByName(v2)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    j = orders.join(
        F.broadcast(dim),
        (orders.o_custkey == dim.c_custkey)
        & (dim.valid_from <= orders.o_orderdate)
        & (dim.valid_to.isNull() | (orders.o_orderdate < dim.valid_to)),
    )
    return (
        j.groupBy("c_mktsegment", "valid_from")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(20,4)")), 4
            ).cast("double").alias("revenue"),
        )
        .orderBy("c_mktsegment", "valid_from")
    )


_TEMPORAL_DIM_SQL = f"""
WITH dim AS (
  SELECT c_custkey, c_mktsegment, c_acctbal AS bal,
         DATE '1992-01-01' AS valid_from, DATE '{_TDJ_EFF}' AS valid_to
  FROM customer
  UNION ALL
  SELECT c_custkey, c_mktsegment,
         CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
              ELSE c_acctbal END,
         DATE '{_TDJ_EFF}', CAST(NULL AS DATE)
  FROM customer)
SELECT c_mktsegment, valid_from, COUNT(*) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(20,4))), 4) AS DOUBLE)
           AS revenue
FROM orders JOIN dim
  ON o_custkey = c_custkey
 AND valid_from <= o_orderdate
 AND (valid_to IS NULL OR o_orderdate < valid_to)
GROUP BY 1, 2 ORDER BY 1, 2
"""


# --------------------------------------------------------------------------
# Schema-evolution read: a landing zone whose newer batches carry a column
# the older batches lack — the drift every long-lived 100 TB pipeline
# accumulates. Old/new batches are written as separate parquet dirs and
# read back through mergeSchema; rows from pre-evolution files surface the
# added column as NULL, and the aggregate proves both cohorts land with
# the right values (integer-exact score sum, so the hash match certifies
# the NULL-fill didn't leak into the scored cohort).
#
# The split is deterministic (doc_id parity), so the oracle reproduces it
# straight from the source table. Scale note: mergeSchema reconciles
# footers across files — cheap per batch, but at 100 TB pin the unified
# schema explicitly once known (spark.read.schema) instead of re-merging
# every scan; the merge here is the DISCOVERY step, not the steady state.
# --------------------------------------------------------------------------
def q_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    with tempfile.TemporaryDirectory(
        prefix="evolve-", ignore_cleanup_errors=True
    ) as out:
        docs.filter(F.col("doc_id") % 2 == 0).write.parquet(
            os.path.join(out, "batch=old")
        )
        docs.filter(F.col("doc_id") % 2 == 1).withColumn(
            "score", (F.col("n_chars") * 3).cast("bigint")
        ).write.parquet(os.path.join(out, "batch=new"))
        back = spark.read.option("mergeSchema", True).parquet(out)
        return local_checkpoint_tracked(
            back.groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.count("score").alias("n_scored"),
                F.coalesce(F.sum("score"), F.lit(0)).alias("score_sum"),
            )
            .orderBy("lang")
        )[0]


_SCHEMA_EVOLUTION_SQL = """
SELECT lang, COUNT(*) AS n_rows,
       COUNT(CASE WHEN doc_id % 2 = 1 THEN 1 END) AS n_scored,
       CAST(COALESCE(SUM(CASE WHEN doc_id % 2 = 1 THEN n_chars * 3 END), 0)
            AS BIGINT) AS score_sum
FROM documents
GROUP BY lang ORDER BY lang
"""


# --------------------------------------------------------------------------
# Snapshot time travel — STAGED for r15 registration (VERDICT r13 #8's
# snapshot/time-travel reads): a file-level versioned table
# (operators/snapshots.py — immutable data-file dirs + an append-only
# add/remove action log, the Iceberg/Delta core) built over orders in
# three versions: v1 adds two files (orderkey%4 ∈ {0},{1}), v2 is a
# COMPACTION (rewrites both into one file + adds %4=2 — file set
# changes, logical rows at v2 = {0,1,2}), v3 appends %4=3. Each
# version's read_asof is a parquet scan of exactly the live files —
# history costs a metadata-scale manifest filter, never a data rewrite
# — and the per-version (count, decimal revenue) summary must equal the
# closed-form slices of the source table, which is precisely the
# snapshot-isolation claim made checkable. The v2 row doubles as the
# compaction-invariance proof: files changed, the hash didn't.
# --------------------------------------------------------------------------
def _asof_summary(
    spark: SparkSession, base: str, version: int, dv_key: str | None = None
) -> DataFrame:
    """The versioned orders table AS OF ``version`` as one row of
    (n_rows, decimal revenue) — every snapshot entry's per-version
    summary; callers add their own label columns."""
    from data_engineer_development_spark.functions import dsum
    from data_engineer_development_spark.operators.snapshots import read_asof

    return read_asof(spark, base, version, dv_key=dv_key).agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("o_totalprice", "revenue"),
    )


def _three_version_orders(
    spark: SparkSession, base: str, orders: DataFrame
) -> None:
    """v1 adds f0/f1 (orderkey %4 = 0, 1); v2 compacts them into f01c and
    adds f2; v3 appends f3."""
    from data_engineer_development_spark.operators.snapshots import (
        append_snapshot,
    )

    m = F.col("o_orderkey") % 4
    append_snapshot(
        spark, base, 1,
        {"f0": orders.filter(m == 0), "f1": orders.filter(m == 1)},
    )
    append_snapshot(
        spark, base, 2,
        {"f01c": orders.filter(m <= 1), "f2": orders.filter(m == 2)},
        removes=["f0", "f1"],
    )
    append_snapshot(spark, base, 3, {"f3": orders.filter(m == 3)})


def _snapshot_versions_summary(
    spark: SparkSession, sf_dir: str, build, dv_key: str | None = None
) -> DataFrame:
    """Shared scaffold for the snapshot-read queries: land a versioned
    orders table in a throwaway dir via ``build(spark, base, orders)``,
    then summarize (count, decimal revenue) AS OF versions 1–3 and
    materialize before the landing dir vanishes."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    with tempfile.TemporaryDirectory(
        prefix="snapq-", ignore_cleanup_errors=True
    ) as base:
        build(spark, base, orders)
        per_version = [
            _asof_summary(spark, base, v, dv_key).select(
                F.lit(v).alias("version"), "n_rows", "revenue"
            )
            for v in (1, 2, 3)
        ]
        out = per_version[0]
        for df in per_version[1:]:
            out = out.unionByName(df)
        return local_checkpoint_tracked(out.orderBy("version"))[0]


def q_time_travel_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _snapshot_versions_summary(spark, sf_dir, _three_version_orders)


_TIME_TRAVEL_SQL = """
WITH v(version, mmax) AS (VALUES (1, 1), (2, 2), (3, 3))
SELECT v.version, COUNT(*) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS revenue
FROM orders JOIN v ON o_orderkey % 4 <= v.mmax
GROUP BY v.version ORDER BY v.version
"""


# --------------------------------------------------------------------------
# Deletion-vector reads — STAGED for r15 registration (the row-level
# companion to time_travel_read): one data file holds every order; v2
# and v3 each DELETE a key slice by committing a key-count-sized vector
# (operators/snapshots.append_snapshot's ``dvs``) — the file is never
# rewritten, deleting 0.1% of a TB-scale file costs MBs. The reader
# anti-joins the accumulated vectors at or before the requested
# version, so deletes time-travel exactly like adds: v1 still sees
# every row AFTER v3 committed. Per-version summaries equal closed-form
# slices of the source (o_orderkey % 10 >= version - 1).
# --------------------------------------------------------------------------
def q_deletion_vector_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineer_development_spark.operators.snapshots import (
        append_snapshot,
    )

    def build(spark, base, orders):
        m = F.col("o_orderkey") % 10
        append_snapshot(spark, base, 1, {"all": orders})
        for v, slot in ((2, 0), (3, 1)):
            append_snapshot(
                spark, base, v,
                dvs={"all": orders.filter(m == slot).select("o_orderkey")},
                dv_key="o_orderkey",
            )

    return _snapshot_versions_summary(
        spark, sf_dir, build, dv_key="o_orderkey"
    )


_DELETION_VECTOR_SQL = """
WITH v(version) AS (VALUES (1), (2), (3))
SELECT v.version, COUNT(*) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS revenue
FROM orders JOIN v ON o_orderkey % 10 >= v.version - 1
GROUP BY v.version ORDER BY v.version
"""


# --------------------------------------------------------------------------
# Bucketed co-located join — STAGED for r15 registration: make the
# engine's shuffle-elimination layout driver-visible (it exists today
# only as a plan assert in tests/test_scale_ops.py). Both join sides are
# written bucketed + sorted by the join key into the session warehouse,
# so the sort-merge join reads co-located buckets with ZERO Exchange
# below the join (plan-pinned in tests) — at 100 TB this is THE pattern
# that pays one layout shuffle once and amortizes it over every future
# join on the key (the fact⋈fact case broadcast can't cover). The
# aggregate on top shuffles normally; correctness equals the plain join.
# --------------------------------------------------------------------------
def _write_bucketed_sides(spark: SparkSession, sf_dir: str, db: str) -> tuple:
    """Land both sides bucketed by the join key into database ``db``;
    returns (orders_b, lineitem_b) table DataFrames. ``db`` must be
    caller-unique: a FRESH session's catalog doesn't know a prior run's
    tables, so overwrite into a fixed name dies on the stale warehouse
    location (LOCATION_ALREADY_EXISTS — found at staging under the
    driver-mimic session). Shared by the query and its plan test."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    (
        orders.write.mode("overwrite")
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .saveAsTable(f"{db}.orders_b")
    )
    (
        li.write.mode("overwrite")
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .saveAsTable(f"{db}.lineitem_b")
    )
    return spark.table(f"{db}.orders_b"), spark.table(f"{db}.lineitem_b")


def q_bucketed_join_colocate(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from data_engineer_development_spark.functions import dsum

    db = f"bjcq_{uuid.uuid4().hex[:12]}"
    try:
        ob, lb = _write_bucketed_sides(spark, sf_dir, db)
        return local_checkpoint_tracked(
            ob.join(lb.hint("merge"), ob.o_orderkey == lb.l_orderkey)
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_lines"),
                dsum("l_extendedprice", "revenue"),
            )
            .orderBy("o_orderpriority")
        )[0]
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


_BUCKETED_JOIN_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_lines,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,4))) AS DOUBLE)
         AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# --------------------------------------------------------------------------
# Retention vacuum audit — registered r15 (VERDICT r14 #5: give
# snapshots.expire_versions a driver-graded query surface): the same
# three-version table time_travel_read builds (v1 adds f0/f1, v2
# compacts them into f01c + adds f2, v3 appends f3), then VACUUM with
# floor_version=2 — f0 and f1 (removed at v2 ≤ floor) are physically
# dropped; f01c/f2/f3 survive. The audit row set is one row per file
# ever committed: status from the vacuum's own outputs (the dropped
# list + the post-vacuum live set, never hardcoded), live files'
# (n_rows, revenue) read back from the surviving parquet — proving the
# vacuum dropped exactly the unreachable bytes and nothing else — and
# expired files reporting 0 recoverable rows, which is what retention
# MEANS. Oracle: the closed-form %4 slices for live files, zeros for
# expired. Metadata-scale collects only (manifest + dropped-id list).
# --------------------------------------------------------------------------
def q_snapshot_vacuum_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineer_development_spark.functions import dsum
    from data_engineer_development_spark.operators.snapshots import (
        expire_versions,
        live_files,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    with tempfile.TemporaryDirectory(
        prefix="snapv-", ignore_cleanup_errors=True
    ) as base:
        _three_version_orders(spark, base, orders)
        dropped = expire_versions(spark, base, 2)
        live = live_files(spark, base, 2**62)
        from data_engineer_development_spark.functions import jvm_rows_df

        parts = []
        if dropped:
            # JVM literal, not createDataFrame: a Python-rows frame costs
            # a multi-second Python-RDD task when this union executes
            # (functions.frames documents the measurement)
            parts.append(
                jvm_rows_df(
                    spark, "file_id string", [(fid,) for fid in dropped]
                ).select(
                    "file_id",
                    F.lit("expired").alias("status"),
                    F.lit(0).cast("long").alias("n_rows"),
                    F.lit(0.0).alias("revenue"),
                )
            )
        for fid in live:
            parts.append(
                spark.read.parquet(os.path.join(base, "data", fid))
                .agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    # coalesce mirrors the oracle's COALESCE(SUM(..),0):
                    # a live file with zero rows must read revenue 0.0,
                    # not NULL (review r15)
                    F.coalesce(
                        dsum("o_totalprice", "revenue"), F.lit(0.0)
                    ).alias("revenue"),
                )
                .select(
                    F.lit(fid).alias("file_id"),
                    F.lit("live").alias("status"),
                    "n_rows",
                    "revenue",
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return local_checkpoint_tracked(out.orderBy("file_id"))[0]


_VACUUM_AUDIT_SQL = """
WITH f(file_id, status, lo, hi) AS (VALUES
    ('f0', 'expired', NULL, NULL), ('f1', 'expired', NULL, NULL),
    ('f01c', 'live', 0, 1), ('f2', 'live', 2, 2), ('f3', 'live', 3, 3))
SELECT f.file_id, f.status,
       CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_rows,
       CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(20,4))), 0)
            AS DOUBLE) AS revenue
FROM f LEFT JOIN orders o ON o.o_orderkey % 4 BETWEEN f.lo AND f.hi
GROUP BY f.file_id, f.status
ORDER BY f.file_id
"""


# --------------------------------------------------------------------------
# Snapshot schema-evolution read — STAGED for r16 registration: the
# add-column evolution story INSIDE the versioned reader (the existing
# schema_evolution_read query proves read-time merge over a plain
# landing dir; this proves it through the snapshot manifest + time
# travel): v1 commits a file WITHOUT o_orderpriority (the
# pre-evolution schema), v2 commits a file WITH it. read_asof(v2,
# merge_schema=True) presents the union schema — pre-evolution rows
# read NULL priority, bucketed here as '(pre-evolution)' — while the
# strict default keeps failing loudly on divergent schemas (pinned in
# tests). Summary equals the closed-form %2 split of orders.
# --------------------------------------------------------------------------
def q_snapshot_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineer_development_spark.functions import dsum
    from data_engineer_development_spark.operators.snapshots import (
        append_snapshot,
        read_asof,
    )

    orders = load_table(spark, sf_dir, "orders")
    with tempfile.TemporaryDirectory(
        prefix="snape-", ignore_cleanup_errors=True
    ) as base:
        m = F.col("o_orderkey") % 2
        append_snapshot(
            spark, base, 1,
            {"f_old": orders.filter(m == 0).select(
                "o_orderkey", "o_totalprice")},
        )
        append_snapshot(
            spark, base, 2,
            {"f_new": orders.filter(m == 1).select(
                "o_orderkey", "o_totalprice", "o_orderpriority")},
        )
        out = (
            read_asof(spark, base, 2, merge_schema=True)
            .groupBy(
                F.coalesce(
                    F.col("o_orderpriority"), F.lit("(pre-evolution)")
                ).alias("priority")
            )
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                dsum("o_totalprice", "revenue"),
            )
            .orderBy("priority")
        )
        return local_checkpoint_tracked(out)[0]


_SNAPSHOT_EVOLUTION_SQL = """
SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority
            ELSE '(pre-evolution)' END AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS revenue
FROM orders
GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# Compaction APPLY — registered r16 (VERDICT r15 #6, closing the lakehouse
# maintenance loop): q_compaction_plan plans rewrite groups over a file
# LISTING and operators/snapshots versions immutable files; this runs the
# two together end-to-end. v1 commits six small files (orderkey %6
# slices); plan_compaction packs the live listing next-fit at half the
# table's bytes (deterministically two groups for six near-equal files —
# the boundary file may waver with compression, the GROUP COUNT cannot),
# and apply_compaction executes the plan as ONE v2 commit: each group
# rewritten to a single new file, every member removed — atomic at the
# manifest, old versions untouched. Output: per-version (n_files, rows,
# revenue) where v1 is read AFTER v2 committed (time-travel invariance)
# and both versions carry identical logical content (compaction
# invariance); n_files 6 → 2 is the plan's file-count contract. At
# 100 TB: the planner stats N files (metadata), the rewrite reads and
# writes exactly the small-file bytes — never the table.
# --------------------------------------------------------------------------
def q_compaction_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineer_development_spark.operators.snapshots import (
        append_snapshot,
        apply_compaction,
        live_file_sizes,
        live_files,
        plan_compaction,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    with tempfile.TemporaryDirectory(
        prefix="snapc-", ignore_cleanup_errors=True
    ) as base:
        m = F.col("o_orderkey") % 6
        append_snapshot(
            spark, base, 1,
            {f"s{i}": orders.filter(m == i) for i in range(6)},
        )
        total = sum(sz for _, sz in live_file_sizes(spark, base, 1))
        groups = plan_compaction(spark, base, 1, total // 2 + 1)
        apply_compaction(spark, base, 2, groups)
        per_version = [
            _asof_summary(spark, base, v).select(
                F.lit(v).alias("version"),
                F.lit(len(live_files(spark, base, v)))
                .cast("long")
                .alias("n_files"),
                "n_rows",
                "revenue",
            )
            for v in (1, 2)
        ]
        out = per_version[0].unionByName(per_version[1])
        return local_checkpoint_tracked(out.orderBy("version"))[0]


# both versions read the ENTIRE table (v1 = all six slices; v2 = the
# compacted rewrite of the same rows): matching the closed-form total
# twice, with the 6 → 2 file counts, proves the rewrite changed the
# file layout and nothing else
_COMPACTION_APPLY_SQL = """
WITH v(version, n_files) AS (VALUES (1, 6), (2, 2))
SELECT v.version, CAST(v.n_files AS BIGINT) AS n_files,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS revenue
FROM orders CROSS JOIN v
GROUP BY v.version, v.n_files ORDER BY v.version
"""


# --------------------------------------------------------------------------
# CDC latest-wins apply — STAGED for r16 registration: the MERGE INTO /
# change-data-capture materialization every lakehouse needs (Debezium →
# Delta/Iceberg ingestion): given an ordered changelog of
# insert/update/delete ops per key, produce the CURRENT table state —
# the row with the highest sequence number wins, a trailing delete
# erases the key. Distinct from scd2_customer_merge (which RETAINS
# history as validity ranges); this collapses history to the head.
# Changelog derived closed-form from orders (I for every key at seq 1,
# U at seq 2 for keys %5=0 adding 1000 cents, D at seq 3 for keys
# %7=0), so the surviving state is exactly checkable. Engine shape:
# one hash shuffle — groupBy(key).agg(max_by(payload, seq)) is a
# partial-aggregable reduction (map-side combine halves the shuffle;
# an equivalent row_number window would sort every partition instead);
# the oracle uses the window formulation, proving the two agree.
# --------------------------------------------------------------------------
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("pr"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    ins = o.select(
        "k", "pr", F.lit(1).alias("seq"), F.lit("I").alias("op"), "cents"
    )
    upd = o.filter(F.col("k") % 5 == 0).select(
        "k", "pr", F.lit(2).alias("seq"), F.lit("U").alias("op"),
        (F.col("cents") + 1000).alias("cents"),
    )
    dels = o.filter(F.col("k") % 7 == 0).select(
        "k", "pr", F.lit(3).alias("seq"), F.lit("D").alias("op"),
        F.lit(0).cast("long").alias("cents"),
    )
    log = ins.unionByName(upd).unionByName(dels)
    latest = (
        log.groupBy("k")
        .agg(F.max_by(F.struct("op", "pr", "cents"), "seq").alias("b"))
        .select("k", F.col("b.op").alias("op"), F.col("b.pr").alias("pr"),
                F.col("b.cents").alias("cents"))
    )
    return (
        latest.filter(F.col("op") != "D")
        .groupBy(F.col("pr").alias("o_orderpriority"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").alias("balance_cents"),
        )
        .orderBy("o_orderpriority")
    )


_CDC_APPLY_SQL = """
WITH o AS (SELECT o_orderkey AS k, o_orderpriority AS pr,
                  CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders),
log AS (
    SELECT k, pr, 1 AS seq, 'I' AS op, cents FROM o
    UNION ALL
    SELECT k, pr, 2, 'U', cents + 1000 FROM o WHERE k % 5 = 0
    UNION ALL
    SELECT k, pr, 3, 'D', CAST(0 AS BIGINT) FROM o WHERE k % 7 = 0),
latest AS (SELECT k, pr, op, cents,
                  ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
           FROM log)
SELECT pr AS o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(cents) AS BIGINT) AS balance_cents
FROM latest WHERE rn = 1 AND op <> 'D'
GROUP BY pr ORDER BY pr
"""


# --------------------------------------------------------------------------
# CDC MERGE into the snapshot log — STAGED for r17 registration (VERDICT
# r15 #8: cdc_apply x snapshots — MERGE materialized as versioned
# commits). One CDC batch against a 4-file versioned orders table
# exercises all three MERGE materializations in ONE atomic commit
# (operators/snapshots.merge_cdc): updates (%4==1 keys divisible by 13,
# +1.00) rewrite exactly file s1 copy-on-write; deletes (%4==2 keys
# divisible by 17) become a deletion vector on s2 — no rewrite; inserts
# (re-keyed copies of %4==3 keys divisible by 19, +2^40) land in one new
# file. v1 is read AFTER the merge committed (time-travel invariance)
# and v2's summary equals the closed-form post-merge slice; file counts
# 4 -> 5 are the routing contract (s1 rewritten in place of itself,
# +ins). At 100 TB: rewrite cost = the affected files' bytes, delete
# cost = key-count-sized vectors, never the table.
# --------------------------------------------------------------------------
_CDC_INS_OFFSET = 1 << 40


def q_cdc_merge_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineer_development_spark.operators.snapshots import (
        append_snapshot,
        live_files,
        merge_cdc,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    with tempfile.TemporaryDirectory(
        prefix="snapm-", ignore_cleanup_errors=True
    ) as base:
        k = F.col("o_orderkey")
        m = k % 4
        append_snapshot(
            spark, base, 1,
            {f"s{i}": orders.filter(m == i) for i in range(4)},
        )
        updates = orders.filter((m == 1) & (k % 13 == 0)).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(1.0)
        )
        inserts = orders.filter((m == 3) & (k % 19 == 0)).withColumn(
            "o_orderkey", k + F.lit(_CDC_INS_OFFSET)
        )
        deletes = orders.filter((m == 2) & (k % 17 == 0)).select(
            "o_orderkey"
        )
        merge_cdc(
            spark, base, 2,
            updates.unionByName(inserts), deletes, "o_orderkey",
        )
        # the two per-version summary builds each pay a manifest collect
        # (read_asof) plus a live_files collect — four independent
        # bounded jobs; build both versions' frames from two driver
        # threads (OPTIMIZATION r18, guide §2.6)
        def _per_version(v: int) -> DataFrame:
            return _asof_summary(spark, base, v, "o_orderkey").select(
                F.lit(v).alias("version"),
                F.lit(len(live_files(spark, base, v)))
                .cast("long")
                .alias("n_files"),
                "n_rows",
                "revenue",
            )

        v1, v2 = overlap([lambda: _per_version(1), lambda: _per_version(2)])
        out = v1.unionByName(v2)
        return local_checkpoint_tracked(out.orderBy("version"))[0]


# v1 = the whole table; v2 = the table with the three change classes
# applied closed-form (update +1.00 on %4==1 & %13==0, %4==2 & %17==0
# deleted, %4==3 & %19==0 duplicated under re-keys)
_CDC_MERGE_SNAPSHOT_SQL = f"""
WITH v2 AS (
  SELECT CASE WHEN o_orderkey % 4 = 1 AND o_orderkey % 13 = 0
              THEN o_totalprice + 1.0 ELSE o_totalprice END AS p
  FROM orders
  WHERE NOT (o_orderkey % 4 = 2 AND o_orderkey % 17 = 0)
  UNION ALL
  SELECT o_totalprice FROM orders
  WHERE o_orderkey % 4 = 3 AND o_orderkey % 19 = 0
)
SELECT 1 AS version, CAST(4 AS BIGINT) AS n_files, COUNT(*) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS revenue
FROM orders
UNION ALL
SELECT 2 AS version, CAST(5 AS BIGINT) AS n_files, COUNT(*) AS n_rows,
       CAST(SUM(CAST(p AS DECIMAL(20,4))) AS DOUBLE) AS revenue
FROM v2
ORDER BY version
"""


# --------------------------------------------------------------------------
# Snapshot maintenance plan — STAGED for r17 registration (closing the
# VERDICT r15 residual: expire_versions' dry-run plan mode and
# orphan_files were operator-only). One report over a versioned table
# with real debris: files expirable below the retention floor
# (expire_versions(floor=2, delete=False) — f0/f1, removed by the v2
# compaction), the live head file set, and an uncommitted orphan dir (a
# writer that died pre-commit). Row counts come from READING exactly the
# reported files — the honest audit bound: cost = the debris bytes plus
# the live set, never table history. The report itself is a JVM-literal
# frame (metadata scale).
# --------------------------------------------------------------------------
def q_snapshot_maintenance_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineer_development_spark.functions import jvm_rows_df
    from data_engineer_development_spark.operators.snapshots import (
        append_snapshot,
        expire_versions,
        live_files,
        orphan_files,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    with tempfile.TemporaryDirectory(
        prefix="snapp-", ignore_cleanup_errors=True
    ) as base:
        m = F.col("o_orderkey") % 4
        append_snapshot(
            spark, base, 1,
            {"f0": orders.filter(m == 0), "f1": orders.filter(m == 1)},
        )
        append_snapshot(
            spark, base, 2,
            {"f01": orders.filter(m <= 1)}, removes=["f0", "f1"],
        )
        append_snapshot(spark, base, 3, {"f2": orders.filter(m == 2)})
        # debris: a writer died after landing data, before its commit
        orders.filter(m == 3).write.parquet(
            os.path.join(base, "data", "orphan0")
        )

        expirable = expire_versions(spark, base, 2, delete=False)
        live = live_files(spark, base, 3)
        orphans = orphan_files(spark, base)

        def _n_rows(fids: list[str]) -> int:
            return spark.read.parquet(
                *[os.path.join(base, "data", f) for f in fids]
            ).count()

        rows = [
            ("expirable_below_v2", len(expirable), _n_rows(expirable)),
            ("live_at_head", len(live), _n_rows(live)),
            ("orphan", len(orphans), _n_rows(orphans)),
        ]
        return jvm_rows_df(
            spark, "item string, n_files long, n_rows long", rows
        ).orderBy("item")


_SNAPSHOT_MAINTENANCE_SQL = """
WITH c AS (SELECT o_orderkey % 4 AS m FROM orders)
SELECT 'expirable_below_v2' AS item, CAST(2 AS BIGINT) AS n_files,
       CAST(SUM(CASE WHEN m <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_rows
FROM c
UNION ALL
SELECT 'live_at_head', CAST(2 AS BIGINT),
       CAST(SUM(CASE WHEN m <= 2 THEN 1 ELSE 0 END) AS BIGINT)
FROM c
UNION ALL
SELECT 'orphan', CAST(1 AS BIGINT),
       CAST(SUM(CASE WHEN m = 3 THEN 1 ELSE 0 END) AS BIGINT)
FROM c
ORDER BY item
"""


# --------------------------------------------------------------------------
# STREAMING CDC into the snapshot log — STAGED for r17 registration (the
# incremental half of VERDICT r15 #8's "CDC x snapshots" ask): a change
# stream (op-tagged rows: updates, deletes, inserts) applied to the
# versioned table by merge_cdc PER MICRO-BATCH inside foreachBatch —
# every batch is one atomic versioned commit, so a reader at any moment
# sees a consistent prefix of the stream, the versioned history records
# the ingestion, and a restart resumes from the checkpoint (the Delta
# streaming-MERGE shape). The change set is keyed UNIQUELY (each key
# appears once), which makes the final table content invariant to how
# the stream splits into batches — exactly what lets a deterministic
# closed-form oracle pair a nondeterministic batch schedule. The change
# files land pre-split (repartition(2), maxFilesPerTrigger=1) so the
# graded run exercises multi-batch sequencing, not a single mega-batch;
# the rewrite-on-rewrite and DV-on-DV cross-batch chains (which hash
# layout may or may not produce here) are pinned DETERMINISTICALLY by
# the 1-vs-4-batch split-invariance test in tests/test_snapshots.py.
# --------------------------------------------------------------------------
def q_stream_cdc_merge_snapshot(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from data_engineer_development_spark.operators.snapshots import (
        append_snapshot,
        merge_cdc,
        snapshot_log,
    )
    from data_engineer_development_spark.streaming.windows import _CKPT_ROOT

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    with tempfile.TemporaryDirectory(
        prefix="scdc-", ignore_cleanup_errors=True
    ) as d, tempfile.TemporaryDirectory(
        prefix="scdc-ckpt-", dir=_CKPT_ROOT, ignore_cleanup_errors=True
    ) as ckpt:
        base = os.path.join(d, "table")
        chg_dir = os.path.join(d, "changes")
        try:
            k = F.col("o_orderkey")
            m = k % 4
            append_snapshot(
                spark, base, 1,
                {"f0": orders.filter(m == 0), "f2": orders.filter(m == 2)},
            )
            changes = (
                orders.filter((m == 0) & (k % 13 == 0))
                .select(
                    k.alias("o_orderkey"),
                    (F.col("o_totalprice") + F.lit(1.0)).alias("o_totalprice"),
                    F.lit("U").alias("op"),
                )
                .unionByName(
                    orders.filter((m == 2) & (k % 17 == 0)).select(
                        k.alias("o_orderkey"),
                        F.lit(None).cast("double").alias("o_totalprice"),
                        F.lit("D").alias("op"),
                    )
                )
                .unionByName(
                    orders.filter(k % 2 == 1).select(
                        "o_orderkey", "o_totalprice", F.lit("U").alias("op")
                    )
                )
            )
            changes.repartition(2).write.parquet(chg_dir)

            # sequential foreachBatch + single availableNow run: a closure
            # counter seeded from the committed head assigns versions with
            # no per-batch manifest read (a restartable deployment would
            # re-derive it from the log, which stays the source of truth)
            head0 = (
                snapshot_log(spark, base)
                .agg(F.max("version").alias("v"))
                .collect()[0]["v"]
            )
            next_version = [int(head0) + 1]

            def apply_batch(batch_df, batch_id: int) -> None:
                sess = batch_df.sparkSession
                # ONE presence aggregate, not a limit-count per side: every
                # per-batch job pays the full scheduling constant
                pres = batch_df.agg(
                    F.sum((F.col("op") != "D").cast("int")).alias("u"),
                    F.sum((F.col("op") == "D").cast("int")).alias("d"),
                ).collect()[0]
                has_ups, has_dels = bool(pres["u"]), bool(pres["d"])
                if not has_ups and not has_dels:
                    return
                ups = batch_df.filter(F.col("op") != "D").drop("op")
                dels = batch_df.filter(F.col("op") == "D").select("o_orderkey")
                res = merge_cdc(
                    sess, base, next_version[0],
                    ups if has_ups else None,
                    dels if has_dels else None,
                    "o_orderkey",
                )
                # bump ONLY on a committed action (ADVICE r16): merge_cdc
                # returns the empty dict WITHOUT committing for a
                # matches-nothing batch — burning the version there would
                # leave gaps in a restartable deployment's history
                if res["rewritten"] or res["inserted"] or res["dv"]:
                    next_version[0] += 1

            spark.conf.set("spark.sql.shuffle.partitions", "8")
            q = (
                spark.readStream.schema(changes.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(chg_dir)
                .writeStream.foreachBatch(apply_batch)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

            def _summary(version: int, label: str) -> DataFrame:
                return _asof_summary(spark, base, version, "o_orderkey").select(
                    F.lit(label).alias("state"), "n_rows", "revenue"
                )

            # each summary pays a read_asof manifest collect — independent
            # bounded jobs, built from two driver threads (r18, guide §2.6)
            s_base, s_head = overlap([
                lambda: _summary(1, "base"), lambda: _summary(2**61, "head")
            ])
            out = s_base.unionByName(s_head)
            return local_checkpoint_tracked(out.orderBy("state"))[0]
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)


# base = the %4 in {0,2} slice; head = base with the stream applied
# closed-form (update +1.00 on %4==0 & %13==0, %4==2 & %17==0 deleted,
# every odd key inserted)
_STREAM_CDC_MERGE_SQL = """
WITH head AS (
  SELECT CASE WHEN o_orderkey % 4 = 0 AND o_orderkey % 13 = 0
              THEN o_totalprice + 1.0 ELSE o_totalprice END AS p
  FROM orders
  WHERE o_orderkey % 4 IN (0, 2)
    AND NOT (o_orderkey % 4 = 2 AND o_orderkey % 17 = 0)
  UNION ALL
  SELECT o_totalprice FROM orders WHERE o_orderkey % 2 = 1
)
SELECT 'base' AS state, COUNT(*) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS revenue
FROM orders WHERE o_orderkey % 4 IN (0, 2)
UNION ALL
SELECT 'head' AS state, COUNT(*) AS n_rows,
       CAST(SUM(CAST(p AS DECIMAL(20,4))) AS DOUBLE) AS revenue
FROM head
ORDER BY state
"""


# --------------------------------------------------------------------------
# Manifest checkpoint — STAGED for r17 registration: the Delta-checkpoint
# move for the snapshot log. The append-only _log grows one parquet part
# per commit, so a long-lived table's every manifest read lists and
# opens O(commits) small files; checkpoint_log consolidates the full
# action history into ONE file and compacts the covered tail, taking
# manifest reads to O(1) + post-checkpoint commits — with history
# semantics unchanged (the checkpoint carries every action row, so time
# travel to ANY version still works, which is exactly what this query
# grades: per-version summaries BEFORE the checkpoint, AFTER it, and
# after a post-checkpoint commit, all equal to the closed-form slices;
# the deterministic log-part counts 4 → 0 → 1 are the compaction
# contract).
# --------------------------------------------------------------------------
def q_snapshot_log_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob

    from data_engineer_development_spark.operators.snapshots import (
        append_snapshot,
        checkpoint_log,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    with tempfile.TemporaryDirectory(
        prefix="snapk-", ignore_cleanup_errors=True
    ) as base:
        m = F.col("o_orderkey") % 4
        for v in range(1, 5):
            append_snapshot(
                spark, base, v, {f"f{v}": orders.filter(m == v - 1)}
            )

        def n_log_parts() -> int:
            return len(
                glob.glob(os.path.join(base, "_log", "part-*.parquet"))
            )

        def summary(version: int, label: str, parts: int) -> DataFrame:
            return _asof_summary(spark, base, version).select(
                F.lit(label).alias("state"),
                F.lit(parts).cast("long").alias("n_log_parts"),
                "n_rows",
                "revenue",
            )

        parts_pre = n_log_parts()
        pre = summary(2, "a_pre_v2", parts_pre)
        ckpt_v = checkpoint_log(spark, base)
        assert ckpt_v == 4
        parts_post = n_log_parts()
        post = summary(2, "b_post_v2", parts_post).unionByName(
            summary(4, "c_post_head", parts_post)
        )
        # a post-checkpoint commit lands in the fresh tail
        append_snapshot(spark, base, 5, {"f5": orders.filter(m == 0)})
        parts_after = n_log_parts()
        after = summary(5, "d_after_commit", parts_after)
        out = pre.unionByName(post).unionByName(after)
        return local_checkpoint_tracked(out.orderBy("state"))[0]


# every read is a closed-form %4 slice; log-part counts 4 (one per
# commit) -> 0 (tail fully compacted) -> 1 (the post-checkpoint commit)
_SNAPSHOT_LOG_CKPT_SQL = """
WITH c AS (SELECT o_orderkey % 4 AS m, o_totalprice FROM orders)
SELECT 'a_pre_v2' AS state, CAST(4 AS BIGINT) AS n_log_parts,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS revenue
FROM c WHERE m <= 1
UNION ALL
SELECT 'b_post_v2', CAST(0 AS BIGINT), COUNT(*),
       CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
FROM c WHERE m <= 1
UNION ALL
SELECT 'c_post_head', CAST(0 AS BIGINT), COUNT(*),
       CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
FROM c
UNION ALL
SELECT 'd_after_commit', CAST(1 AS BIGINT), COUNT(*),
       CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
FROM (SELECT * FROM c UNION ALL SELECT * FROM c WHERE m = 0)
ORDER BY state
"""


QUERIES = {
    "incremental_agg": q_incremental_agg,
    "scd2_customer_merge": q_scd2_customer_merge,
    "rule_quarantine": q_rule_quarantine,
    "price_histogram": q_price_histogram,
    "compaction_plan": q_compaction_plan,
    "skew_profile": q_skew_profile,
    "event_anomaly": q_event_anomaly,
    "snapshot_diff": q_snapshot_diff,
    "fk_integrity": q_fk_integrity,
    "range_partition_plan": q_range_partition_plan,
    "er_candidate_pairs": q_er_candidate_pairs,
    "temporal_dim_join": q_temporal_dim_join,
    "schema_evolution_read": q_schema_evolution_read,
    # registered r14 (staged r13, tri-SF + ANSI-on parity on record)
    "incremental_join": q_incremental_join,
    # registered r15 (staged r14, tri-SF + ANSI-on parity on record):
    # the lakehouse read surface — snapshot time travel, row-level
    # deletion vectors, and the shuffle-eliminating bucketed layout
    "time_travel_read": q_time_travel_read,
    "deletion_vector_read": q_deletion_vector_read,
    "bucketed_join_colocate": q_bucketed_join_colocate,
    # registered r15 (built this round — VERDICT r14 #5's vacuum surface)
    "snapshot_vacuum_audit": q_snapshot_vacuum_audit,
    # registered r16 (staged r15, tri-SF + ANSI-on parity on record):
    # schema evolution over the versioned snapshot log, and CDC
    # latest-wins MERGE semantics
    "snapshot_evolution_read": q_snapshot_evolution_read,
    "cdc_apply": q_cdc_apply,
    # registered r16 (built this round — VERDICT r15 #6's maintenance loop)
    "compaction_apply": q_compaction_apply,
    # registered r17 (staged r16, tri-SF + ANSI-on parity on record):
    # CDC MERGE materialized as atomic versioned commits (batch +
    # streaming), the maintenance dry-run report, and the Delta-style
    # manifest checkpoint
    "cdc_merge_snapshot": q_cdc_merge_snapshot,
    "stream_cdc_merge_snapshot": q_stream_cdc_merge_snapshot,
    "snapshot_maintenance_plan": q_snapshot_maintenance_plan,
    "snapshot_log_checkpoint": q_snapshot_log_checkpoint,
}

ORACLE = {
    "cdc_merge_snapshot": _CDC_MERGE_SNAPSHOT_SQL,
    "stream_cdc_merge_snapshot": _STREAM_CDC_MERGE_SQL,
    "snapshot_maintenance_plan": _SNAPSHOT_MAINTENANCE_SQL,
    "snapshot_log_checkpoint": _SNAPSHOT_LOG_CKPT_SQL,
    "snapshot_evolution_read": _SNAPSHOT_EVOLUTION_SQL,
    "cdc_apply": _CDC_APPLY_SQL,
    "compaction_apply": _COMPACTION_APPLY_SQL,
    "incremental_join": _INCREMENTAL_JOIN_SQL,
    "time_travel_read": _TIME_TRAVEL_SQL,
    "deletion_vector_read": _DELETION_VECTOR_SQL,
    "bucketed_join_colocate": _BUCKETED_JOIN_SQL,
    "snapshot_vacuum_audit": _VACUUM_AUDIT_SQL,
    "incremental_agg": _INCREMENTAL_AGG_SQL,
    "scd2_customer_merge": _SCD2_SQL,
    "rule_quarantine": _QUARANTINE_SQL,
    "price_histogram": _HISTOGRAM_SQL,
    "compaction_plan": _COMPACTION_SQL,
    "skew_profile": _SKEW_PROFILE_SQL,
    "event_anomaly": _EVENT_ANOMALY_SQL,
    "snapshot_diff": _SNAPSHOT_DIFF_SQL,
    "fk_integrity": _FK_INTEGRITY_SQL,
    "range_partition_plan": _RANGE_PLAN_SQL,
    "er_candidate_pairs": _ER_PAIRS_SQL,
    "temporal_dim_join": _TEMPORAL_DIM_SQL,
    "schema_evolution_read": _SCHEMA_EVOLUTION_SQL,
}
