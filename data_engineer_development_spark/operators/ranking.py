"""Distributed global ranking — dense global ``row_number`` WITHOUT the
single-partition window.

``Window.orderBy(...)`` with no partition spec is the classic scale-killer:
Spark moves the ENTIRE input into one task's sort (WindowExec even warns).
Fine over a bounded histogram; fatal over a 100 TB fact table or a
corpus-sized vocabulary. This module provides the exact, parallel
alternative used by ``ntile_deciles`` and ``dictionary_encode``:

1. ``repartitionByRange(P, *order).sortWithinPartitions(*order)`` —
   contiguous ordered key ranges, one parallel sort per partition. When
   the ordering is a total order (callers must include a tiebreaker),
   ANY sampled boundary placement yields the same global rank, so the
   sampling's nondeterminism never reaches the result.
2. ``monotonically_increasing_id()`` projected AFTER the sort — the
   DataFrame zipWithIndex idiom: partition index in the high bits,
   within-partition row number in the low 33 bits. Local rank for free,
   NO second shuffle of the data (a ``Window.partitionBy(pid)`` would
   hash-exchange the whole input again — measured 3.6× slower at sf0.1).
   The optimizer never reorders the projection below the Sort because
   the id expression is nondeterministic; tests/test_ranking.py pins the
   rank == global-window equivalence in case that ever changes.
3. per-partition counts → cumulative offsets (a window over ``P``
   rows, bounded control-plane) broadcast back: global = offset + local.

The ranked intermediate is persisted so the counts branch and the join
branch read ONE materialization (nondeterministic projections defeat
ReusedExchange, so without it the scan + range shuffle run twice — and
the two runs must agree besides). The persist is registered with
``cache.track_persist`` so sweeps release exactly it via
``cache.release_tracked()`` — no global clearCache needed; at 100 TB
the persist is the standard two-pass materialization and spills to disk
per partition.

Cost at scale: one range shuffle + a P-row agg + a P-row broadcast —
every stage parallel, nothing proportional to the input ever collapses
to one task. Low-33-bit row numbers cap a partition at 2^33 rows —
far beyond any sane partition sizing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_engineer_development_spark.cache import track_persist

_LOCAL_BITS = 33
_LOCAL_MASK = (1 << _LOCAL_BITS) - 1
#: range-exchange width of every ranking pass (``P`` above)
_RANGE_PARTS = 32


def ntile_from_rank(
    tiles: int, rank_col: str = "r", total_col: str = "n_total"
) -> Column:
    """NTILE(tiles) as a closed-form expression over a 1-based global rank.

    SQL NTILE semantics: with N rows, the first N % tiles tiles hold
    ⌈N/tiles⌉ rows, the rest ⌊N/tiles⌋. All-integer ceil-division
    (``(a + b - 1) DIV b``), so the assignment is exact in any engine —
    this is what lets a distributed rank replace the single-partition
    ``F.ntile`` window while hash-matching it bit-for-bit
    (cross-checked against F.ntile itself in tests/test_ranking.py).

    Total over any N: with fewer rows than tiles (base = N DIV tiles = 0)
    NTILE degenerates to tile = rank, guarded explicitly so the
    otherwise-branch's division never sees a zero base under ANSI mode.
    """
    r, n = rank_col, total_col
    base = f"{n} DIV {tiles}"
    rem = f"{n} % {tiles}"
    return (
        F.when(F.expr(f"{n} < {tiles}"), F.col(r))
        .when(
            F.col(r) <= F.expr(f"({rem}) * (({base}) + 1)"),
            F.expr(f"({r} + {base}) DIV (({base}) + 1)"),
        )
        .otherwise(F.expr(f"({r} - {rem} - 1) DIV ({base}) + 1"))
    )


def with_global_rank(
    df: DataFrame,
    *order: Column | str,
    rank_col: str = "r",
    total_col: str | None = None,
) -> DataFrame:
    """Append a 1-based global ``row_number`` over ``order`` to ``df``.

    ``order`` must be a TOTAL order (include a unique tiebreaker) — with
    ties the split across range-partition boundaries would be arbitrary.
    ``total_col``, when given, also appends the total row count (needed by
    NTILE-style consumers) — it rides the same bounded offsets broadcast,
    costing nothing extra.
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in order]
    ranked = track_persist(
        df.repartitionByRange(_RANGE_PARTS, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("_mid", F.monotonically_increasing_id())
    )
    pid = F.shiftright(F.col("_mid"), _LOCAL_BITS).alias("_pid")
    local = (F.col("_mid").bitwiseAND(F.lit(_LOCAL_MASK)) + 1).alias("_local")

    counts = ranked.groupBy(pid).agg(F.count(F.lit(1)).alias("_pc"))
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_pid",
        F.coalesce(F.sum("_pc").over(w_off), F.lit(0)).alias("_offset"),
        F.sum("_pc").over(Window.partitionBy()).alias("_n_total"),
    )

    out = (
        ranked.select("*", pid, local)
        .join(F.broadcast(offsets), "_pid")
        .withColumn(rank_col, (F.col("_offset") + F.col("_local")))
    )
    if total_col is not None:
        out = out.withColumn(total_col, F.col("_n_total"))
    return out.drop("_mid", "_pid", "_pc", "_local", "_offset", "_n_total")


def with_global_cumsum(
    df: DataFrame,
    weight: Column | str,
    *order: Column | str,
    cum_col: str = "cum",
) -> DataFrame:
    """Append the EXCLUSIVE global running sum of ``weight`` over
    ``order`` (sum of all strictly-earlier rows' weights) — the
    distributed prefix sum, same two-pass shape as
    :func:`with_global_rank` and the same reason it exists: the naive
    ``Window.orderBy(...)`` prefix sum collapses the input into one
    task's sort. ``order`` must be a TOTAL order; ``weight`` must be
    integral and non-NULL (exact int64 accumulation — IEEE partials
    would make the result partitioning-dependent).

    Shape: one range shuffle + a NARROW per-partition local cumsum +
    a P-row offsets broadcast. The local pass is an Arrow
    ``mapInPandas`` running int64 cumsum over the partition's batches
    in their sorted order — deliberately NOT a
    ``Window.partitionBy(pid)``: the range sort's output partitioning
    can't satisfy that window's clustering requirement, so Catalyst
    would insert a second full-input hash exchange — the exact
    re-shuffle this module's header documents as 3.6× slower, and the
    one a review r12 pass caught this function paying. Exclusive (not
    inclusive) because every consumer seen so far wants "how much came
    before me" (packing offsets, byte layout); inclusive is one
    ``+ weight`` away.
    """
    import numpy as np

    cols = [F.col(c) if isinstance(c, str) else c for c in order]
    w = F.col(weight) if isinstance(weight, str) else weight
    # plan-time contract guard (ADVICE r12): a float weight would be
    # silently truncated by the long cast below, and a NULL would reach
    # pandas as NaN and blow up inside the Arrow kernel with an opaque
    # dtype error far from the cause. Analysis only — no job.
    wtype = df.select(w.alias("_w")).schema[0].dataType.simpleString()
    if wtype not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"with_global_cumsum: weight must be an integral type "
            f"(got {wtype}) — exact int64 accumulation is the contract; "
            "cast/round explicitly if truncation is intended"
        )
    ranked = track_persist(
        df.repartitionByRange(_RANGE_PARTS, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("_w", w.cast("long"))
        # evaluated AFTER the exchange+sort (non-deterministic expressions
        # never reorder below a Sort), so it labels the PHYSICAL partition
        # — and both consumers below read the ONE persisted materialization
        .withColumn("_pid", F.spark_partition_id())
    )

    def _local_cumsum(batches):
        run = 0  # exclusive running sum across the partition's batches
        for pdf in batches:
            if pdf["_w"].isna().any():
                raise ValueError(
                    "with_global_cumsum: weight column contains NULL — "
                    "the contract requires non-NULL integral weights "
                    "(coalesce upstream if NULL means 0)"
                )
            wv = pdf["_w"].to_numpy(dtype=np.int64)
            pdf = pdf.assign(_lc=np.cumsum(wv) - wv + run)
            run += int(wv.sum())
            yield pdf

    from pyspark.sql.types import LongType, StructField, StructType

    local_schema = StructType(
        list(ranked.schema.fields) + [StructField("_lc", LongType())]
    )
    local = ranked.mapInPandas(_local_cumsum, local_schema)

    counts = ranked.groupBy("_pid").agg(F.sum("_w").alias("_pw"))
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_pid", F.coalesce(F.sum("_pw").over(w_off), F.lit(0)).alias("_offset")
    )

    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(cum_col, F.col("_offset") + F.col("_lc"))
        .drop("_pid", "_pw", "_w", "_offset", "_lc")
    )


def with_grouped_cumsum(
    df: DataFrame,
    weight: Column | str,
    group_cols: list[str],
    *order: Column | str,
    cum_col: str = "cum",
) -> DataFrame:
    """Append the PER-GROUP exclusive running sum of ``weight`` over
    ``order`` within each ``group_cols`` group — grouped prefix sums
    without the per-group window skew.

    The naive ``Window.partitionBy(group).orderBy(...)`` running sum
    pulls each group into ONE task's sort. That is fine when groups are
    many and small (high-cardinality keys); it is the scale-killer in
    exactly the case this operator exists for — FEW, HUGE groups
    (sources / languages / domains of a 100 TB corpus), where one task
    would sort a whole source. Here every stage stays parallel:

    1. ONE global :func:`with_global_cumsum` ordered by
       ``(group_cols, *order)`` — groups are contiguous in the total
       order, so a row's global exclusive sum = (sum of all earlier
       GROUPS' weights) + (its exclusive sum WITHIN its group).
    2. per-group offsets = ``min(global_cum)`` per group (the group's
       first row carries exactly the earlier-groups total) — a
       map-side-combinable aggregate of |groups| rows, broadcast back.
    3. within-group sum = global − offset. No per-group sort task ever
       exists; the only per-group structure is the |groups|-row offset
       frame (control-plane cardinality by the operator's own premise).

    ``(group_cols, *order)`` must be a total order (include a
    tiebreaker, same contract as with_global_cumsum); group keys must be
    non-NULL (the offset equi-join drops NULL keys — filter or fill
    upstream; a NULL group would vanish silently, so callers who can't
    guarantee it should precede with ``.filter(col(g).isNotNull())``).
    Weight contract (integral, non-NULL) is enforced by the inner pass.
    """
    gcols = [F.col(g) for g in group_cols]
    out = with_global_cumsum(
        df, weight, *(gcols + list(order)), cum_col="_gcum"
    )
    offsets = out.groupBy(*group_cols).agg(F.min("_gcum").alias("_goff"))
    return (
        out.join(F.broadcast(offsets), group_cols)
        .withColumn(cum_col, F.col("_gcum") - F.col("_goff"))
        .drop("_gcum", "_goff")
    )
