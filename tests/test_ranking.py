"""with_global_rank (operators/ranking.py): the distributed global
row_number must agree EXACTLY with the single-partition window it replaces,
while keeping every input-sized window partitioned."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from data_engineer_development_spark.operators.ranking import (
    ntile_from_rank,
    with_global_rank,
)


def _reference_rank(df, *cols):
    return df.withColumn(
        "expected", F.row_number().over(Window.orderBy(*cols))
    )


def test_matches_global_window_asc_with_ties(spark):
    # duplicate keys force the tiebreaker to carry the total order
    rows = [(i % 7, i) for i in range(501)]
    df = spark.createDataFrame(rows, "k int, u int").repartition(8)
    got = with_global_rank(df, "k", "u", rank_col="r", total_col="n")
    joined = got.join(_reference_rank(df, "k", "u"), ["k", "u"])
    assert joined.filter(F.col("r") != F.col("expected")).count() == 0
    assert got.select("n").distinct().collect()[0][0] == 501


def test_matches_global_window_desc_mixed(spark):
    rows = [((i * 37) % 11, f"t{i:04d}") for i in range(300)]
    df = spark.createDataFrame(rows, "cnt int, token string").repartition(8)
    order = [F.desc("cnt"), F.asc("token")]
    got = with_global_rank(df, *order, rank_col="r")
    joined = got.join(_reference_rank(df, *order), ["cnt", "token"])
    assert joined.filter(F.col("r") != F.col("expected")).count() == 0


def test_ranks_are_a_permutation(spark):
    df = spark.createDataFrame([(i,) for i in range(1000)], "v int")
    got = with_global_rank(df.repartition(16), "v", rank_col="r")
    assert got.agg(
        F.count_distinct("r").alias("d"), F.min("r").alias("lo"),
        F.max("r").alias("hi"),
    ).collect()[0] == (1000, 1, 1000)


def test_no_input_sized_window_or_extra_shuffle(spark):
    """The data path must carry NO window at all (local rank comes from
    monotonically_increasing_id after the partition sort — the zipWithIndex
    idiom); the only windows are the bounded P-row offsets cumsum/total.
    Detected the same way as the global plan sweep."""
    import re

    df = spark.range(10_000).select(F.col("id").alias("v"))
    plan = (
        with_global_rank(df, "v", rank_col="r")
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    unpart = 0
    part = 0
    for m in re.finditer(r"windowspecdefinition\(([^,)]+)[,)]", plan):
        first = m.group(1)
        if (" ASC" in first or " DESC" in first
                or first.startswith("specifiedwindowframe")):
            unpart += 1
        else:
            part += 1
    assert part == 0  # no hash-exchange window over the input
    assert unpart <= 2  # offsets cumsum + total (bounded P-row input only)


def test_id_projection_stays_above_the_sort(spark):
    """Local ranks are only correct if monotonically_increasing_id is
    evaluated AFTER the within-partition sort. The optimizer must not
    reorder the (nondeterministic) projection below the Sort — pin the
    optimized plan shape, not just the output values."""
    df = spark.range(10_000).select((F.col("id") % 97).alias("v"), "id")
    plan = (
        with_global_rank(df, "v", "id", rank_col="r")
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    sort_at = plan.index("Sort ")
    mid_at = plan.index("monotonically_increasing_id")
    # optimizedPlan prints top-down: the projection node must appear ABOVE
    # (i.e. before) the Sort it depends on
    assert mid_at < sort_at, plan


def test_random_multisets_match_global_window(spark):
    """Randomized multisets (heavy duplicates, negatives, clusters) —
    ranks must equal the single-partition reference for every input.
    Few examples (a Spark job each), but each input is adversarial:
    duplicate-dense keys probe the tiebreaker, skewed value clusters
    probe boundary placement by the range partitioner."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=8, deadline=None)
    @given(
        st.lists(
            st.integers(min_value=-5, max_value=5), min_size=1, max_size=120
        )
    )
    def check(keys):
        rows = [(k, i) for i, k in enumerate(keys)]
        df = spark.createDataFrame(rows, "k int, u int").repartition(5)
        got = with_global_rank(df, "k", "u", rank_col="r")
        joined = got.join(_reference_rank(df, "k", "u"), ["k", "u"])
        assert joined.filter(F.col("r") != F.col("expected")).count() == 0
        spark.catalog.clearCache()

    check()


def test_ntile_closed_form_matches_spark_ntile(spark):
    """The closed form must agree with F.ntile for every rank, across
    group sizes hitting every divisibility corner (N % tiles == 0, == 1,
    == tiles-1, primes, N == tiles, and N < tiles — the degenerate branch
    where base = N DIV tiles is 0 and tile must equal rank). One job:
    groups keyed by n_total, F.ntile evaluated per-group on a PARTITIONED
    window."""
    sizes = list(range(1, 41)) + [100, 101, 109, 997, 1000]
    rows = [(n, r) for n in sizes for r in range(1, n + 1)]
    df = spark.createDataFrame(rows, "n_total int, r int").repartition(8)
    w = Window.partitionBy("n_total").orderBy("r")
    out = df.select(
        "n_total",
        "r",
        ntile_from_rank(10).alias("closed"),
        F.ntile(10).over(w).alias("builtin"),
    )
    assert out.filter(F.col("closed") != F.col("builtin")).count() == 0


def test_global_cumsum_matches_naive_window(spark):
    """with_global_cumsum (the distributed prefix sum) must equal the
    naive single-partition global window EXACTLY — exclusive semantics,
    integer weights — including across range-partition boundaries and
    with weight values of 0."""
    import random

    from pyspark.sql import Window

    from data_engineer_development_spark.operators.ranking import (
        with_global_cumsum,
    )

    rng = random.Random(7)
    rows = [(i, rng.choice([0, 1, 3, 17, 512])) for i in range(5_000)]
    df = spark.createDataFrame(rows, "k long, w long")
    got = {
        r["k"]: r["cum"]
        for r in with_global_cumsum(df, "w", "k", cum_col="cum").collect()
    }
    naive = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
    want = {
        r["k"]: r["cum"]
        for r in df.select(
            "k", F.coalesce(F.sum("w").over(naive), F.lit(0)).alias("cum")
        ).collect()
    }
    assert got == want


def test_global_cumsum_no_input_sized_window_or_second_shuffle(spark):
    """Same plan discipline as with_global_rank: the corpus-sized path
    carries NO window at all (the local running sum is a narrow Arrow
    mapInPandas over the already-sorted range partitions — a
    Window.partitionBy(pid) would hash-exchange the whole input again,
    the review-r12 finding); the lone unpartitioned window is the
    bounded P-row offsets cumsum, and the only full-input exchange in
    the executed plan is the range repartition itself."""
    import re

    from data_engineer_development_spark.operators.ranking import (
        with_global_cumsum,
    )

    out = with_global_cumsum(
        spark.range(10_000).selectExpr("id as k", "id % 7 as w"), "w", "k"
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    unpart = part = 0
    for m in re.finditer(r"windowspecdefinition\(([^,)]+)[,)]", plan):
        first = m.group(1)
        if (" ASC" in first or " DESC" in first
                or first.startswith("specifiedwindowframe")):
            unpart += 1
        else:
            part += 1
    assert part == 0  # no hash-exchange window over the input
    assert unpart <= 1  # offsets cumsum only (32-row input)
    physical = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in physical  # the narrow local pass
    # no HASH exchange anywhere carries the data rows: every
    # hashpartitioning line must be the counts/offsets control plane
    # (_pid keyed, partially-aggregated P rows — map-side combine ran
    # first), never the full-width input (which would print the data
    # column k). The range repartition prints once per cached-plan
    # branch but executes once (both scans read one InMemoryRelation).
    for line in physical.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "k#" not in line, line


def test_pack_sequences_global_parity_and_straddle_semantics(spark):
    """Round-13+ registration candidate (staged, r12): the single-stream
    packing must hold hash-exact oracle parity at both fixture SFs, and
    its per-doc layout must tile the stream exactly: offsets are
    cum_before mod CAP, consecutive docs abut (next cum_before = prev
    cum_before + prev tokens), and a doc straddles iff its span crosses
    a CAP boundary."""
    from conftest import SF_CORRECT, SF_SMOKE
    from oracle_harness import compare

    from data_engineer_development_spark.queries.training_mix import (
        _PACK_CAP,
        _PACK_GLOBAL_SQL,
        q_pack_sequences_global,
    )

    for sf_dir in (SF_SMOKE, SF_CORRECT):
        ok, msg = compare(
            spark, sf_dir, "pack_sequences_global",
            q_pack_sequences_global, _PACK_GLOBAL_SQL,
        )
        assert ok, f"{sf_dir}: {msg}"
    rows = q_pack_sequences_global(spark, SF_CORRECT).collect()
    cum = 0
    saw_straddle = False
    for r in rows:  # ordered by doc_id
        assert r["cum_before"] == cum
        assert r["seq_offset"] == cum % _PACK_CAP
        crosses = (cum // _PACK_CAP) != ((cum + r["tokens"] - 1) // _PACK_CAP)
        assert r["straddles"] == crosses
        saw_straddle |= crosses
        cum += r["tokens"]
    assert saw_straddle  # fixture docs do cross boundaries


def test_global_cumsum_rejects_float_and_null_weights(spark):
    """ADVICE r12: the integral/non-NULL weight contract must raise a
    NAMED error, not truncate silently (float) or die mid-job inside
    the Arrow kernel with an opaque dtype error (NULL)."""
    import pytest
    from pyspark.sql import functions as F

    from data_engineer_development_spark.operators.ranking import (
        with_global_cumsum,
    )

    floats = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 0.5).alias("w")
    )
    with pytest.raises(ValueError, match="integral"):
        with_global_cumsum(floats, "w", "k")

    nulls = spark.range(10).select(
        F.col("id").alias("k"),
        F.when(F.col("id") == 7, None).otherwise(F.col("id")).alias("w"),
    )
    with pytest.raises(Exception, match="non-NULL integral weights"):
        with_global_cumsum(nulls, "w", "k").collect()


def test_grouped_cumsum_matches_naive_group_window(spark):
    """with_grouped_cumsum == Window.partitionBy(group) running sum, on
    random multigroup data with ties and zero weights."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_engineer_development_spark.operators.ranking import (
        with_grouped_cumsum,
    )

    rng = random.Random(13)
    rows = [
        (i, f"g{rng.randrange(4)}", rng.randrange(0, 5))
        for i in range(3000)
    ]
    df = spark.createDataFrame(rows, "id long, g string, w long")
    w = (
        Window.partitionBy("g")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    want = {
        (r["g"], r["id"]): r["c"]
        for r in df.select(
            "g", "id", F.coalesce(F.sum("w").over(w), F.lit(0)).alias("c")
        ).collect()
    }
    got = {
        (r["g"], r["id"]): r["cum"]
        for r in with_grouped_cumsum(df, "w", ["g"], "id").collect()
    }
    assert got == want


def test_grouped_cumsum_has_no_group_partitioned_window(spark):
    """The scale contract: no WindowExec partitioned on the GROUP key may
    exist (few huge groups would collapse into single tasks); the only
    window is the P-row offsets pass of the inner global cumsum."""
    from pyspark.sql import functions as F

    from data_engineer_development_spark.operators.ranking import (
        with_grouped_cumsum,
    )

    df = spark.range(1000).select(
        F.col("id"),
        (F.col("id") % 3).cast("string").alias("g"),
        F.lit(1).alias("w").cast("long"),
    )
    plan = (
        with_grouped_cumsum(df, "w", ["g"], "id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            assert "g#" not in line, line  # never partitioned by the group


def test_token_budget_mix_parity_and_budget_invariants(spark):
    from conftest import SF_CORRECT, SF_SMOKE
    from pyspark.sql import functions as F

    from data_engineer_development_spark.queries.training_mix import (
        _MIX_BUDGET,
        _TOKEN_BUDGET_SQL,
        q_token_budget_mix,
    )
    from data_engineer_development_spark.sources import load_table
    from tests.oracle_harness import compare

    for sf_dir in (SF_SMOKE, SF_CORRECT):
        ok, msg = compare(
            spark, sf_dir, "token_budget_mix",
            q_token_budget_mix, _TOKEN_BUDGET_SQL,
        )
        assert ok, f"{sf_dir}: {msg}"

    out = q_token_budget_mix(spark, SF_CORRECT).collect()
    srcs = load_table(spark, SF_CORRECT, "documents")
    all_sources = {
        r["source"] for r in srcs.select("source").distinct().collect()
    }
    per_src: dict = {}
    for r in out:
        assert r["cum_src"] < _MIX_BUDGET  # admission rule
        # fits marks full containment; straddlers exceed the budget
        assert r["fits"] == (r["cum_src"] + r["tokens"] <= _MIX_BUDGET)
        per_src.setdefault(r["source"], []).append(r)
    # every source fills its budget (fixture has >800 tokens per source)
    assert set(per_src) == all_sources
    n_docs = {
        r["source"]: r["n"]
        for r in srcs.groupBy("source").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    for s, rows in per_src.items():
        # a strict subset was admitted (the budget actually binds)
        assert 0 < len(rows) < n_docs[s], s
        # at most one straddler per source, and only as the last admit
        assert sum(1 for r in rows if not r["fits"]) <= 1

def test_length_bucket_batches_parity_and_packing(spark):
    """Staged r14+ candidate: length-bucketed inference batches. Parity at
    both fixture SFs; invariants — within each pad bucket the batches are
    contiguous from 0 and all full except possibly the last, every doc is
    scheduled exactly once, the two waste accountings are ordered
    (tight <= bucket, both non-negative), and the plan carries NO window
    partitioned on the bucket key (the grouped-cumsum scale contract —
    buckets are few and huge)."""
    from collections import defaultdict

    from conftest import SF_CORRECT, SF_SMOKE

    from data_engineer_development_spark.queries.training_mix import (
        _LB_ROWS,
        _LENGTH_BUCKET_SQL,
        q_length_bucket_batches,
    )
    from data_engineer_development_spark.sources import load_table
    from tests.oracle_harness import compare

    for sf_dir in (SF_SMOKE, SF_CORRECT):
        ok, msg = compare(
            spark, sf_dir, "length_bucket_batches",
            q_length_bucket_batches, _LENGTH_BUCKET_SQL,
        )
        assert ok, f"{sf_dir}: {msg}"

    df = q_length_bucket_batches(spark, SF_CORRECT)
    rows = df.collect()
    per_bucket = defaultdict(dict)
    for r in rows:
        assert 0 < r["n_rows"] <= _LB_ROWS
        assert 0 <= r["waste_tight"] <= r["waste_bucket"]
        per_bucket[r["pad_to"]][r["batch_idx"]] = r["n_rows"]
    for pad, batches in per_bucket.items():
        idxs = sorted(batches)
        assert idxs == list(range(len(idxs))), pad  # contiguous from 0
        for i in idxs[:-1]:
            assert batches[i] == _LB_ROWS, (pad, i)  # only the last short
    n_docs = load_table(spark, SF_CORRECT, "documents").count()
    assert sum(r["n_rows"] for r in rows) == n_docs  # exactly once

    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            assert "pad_to#" not in line, line

def test_domain_cap_parity_and_ceiling(spark):
    """Staged r14+ candidate: per-domain frequency cap. Parity at both
    fixture SFs; invariants — every document appears exactly once with a
    dense within-source rank, kept == (rank < CAP), no source keeps more
    than CAP docs, the fixture actually over-fills the cap (every source
    drops something), and the plan has no source-partitioned window (the
    grouped-cumsum scale contract)."""
    from collections import defaultdict

    from conftest import SF_CORRECT, SF_SMOKE

    from data_engineer_development_spark.queries.sampling import (
        _DOMAIN_CAP,
        _DOMAIN_CAP_SQL,
        q_domain_cap,
    )
    from tests.oracle_harness import compare

    for sf_dir in (SF_SMOKE, SF_CORRECT):
        ok, msg = compare(
            spark, sf_dir, "domain_cap", q_domain_cap, _DOMAIN_CAP_SQL
        )
        assert ok, f"{sf_dir}: {msg}"

    df = q_domain_cap(spark, SF_CORRECT)
    rows = df.collect()
    per_src = defaultdict(list)
    for r in rows:
        assert r["kept"] == (r["rk"] < _DOMAIN_CAP)
        per_src[r["source"]].append(r["rk"])
    for src, rks in per_src.items():
        assert sorted(rks) == list(range(len(rks))), src  # dense ranks
        kept = sum(1 for rk in rks if rk < _DOMAIN_CAP)
        assert kept <= _DOMAIN_CAP
        assert len(rks) > _DOMAIN_CAP, src  # the cap bites on the fixture

    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            assert "source#" not in line, line
