"""Count-Min / Bloom sketch operators (operators/sketches.py) and their
staged registry entries (queries/sketch_ops.py, r14 candidates).

Pins the three properties that make the sketches SOUND as scale
substitutes, not just hash-parity-green:
- CMS one-sided error: estimate ≥ exact, always.
- CMS mergeability: cell-wise SUM of partial sketches over disjoint
  slices equals the whole-corpus sketch (the property that lets map
  tasks emit constant-size partials at 100 TB).
- Bloom soundness: NO false negatives — every true member passes.
"""

from __future__ import annotations

from conftest import SF_CORRECT, SF_SMOKE

from pyspark.sql import functions as F

from data_engineer_development_spark.operators.sketches import (
    bloom_build,
    bloom_probe,
    cms_build,
    cms_estimate,
)
from data_engineer_development_spark.queries.sketch_ops import (
    _bloom_sql,
    _cms_sql,
    q_bloom_prune_eval,
    q_cms_freq,
)
from data_engineer_development_spark.sources import load_table


def test_cms_freq_oracle_parity_and_one_sided_error(spark):
    from tests.oracle_harness import compare

    for sf_dir in (SF_SMOKE, SF_CORRECT):
        ok, msg = compare(
            spark, sf_dir, "cms_freq", q_cms_freq, _cms_sql()
        )
        assert ok, f"{sf_dir}: {msg}"
    rows = q_cms_freq(spark, SF_CORRECT).collect()
    assert len(rows) == 20
    for r in rows:  # Count-Min never undercounts
        assert r["cms_est"] >= r["exact_cnt"], r
        assert r["overcount"] == r["cms_est"] - r["exact_cnt"]


def test_cms_estimate_is_exact_on_a_collision_free_grid(spark):
    """A 3-key frame in a 4×512 grid: a wrong estimate would need two
    keys to collide in EVERY depth row (~(3/512)^4 ≈ 1e-9 per pair), and
    the md5 grid is deterministic — so the exact expected counts either
    always hold or never do. Pins the estimate == exact case."""
    df = spark.createDataFrame(
        [(k,) for k in [1, 1, 1, 2, 2, 7]], "k long"
    )
    sketch = cms_build(df, "k", depth=4, width=512)
    probes = spark.createDataFrame([(1,), (2,), (7,)], "k long")
    est = {
        r["k"]: r["e"]
        for r in cms_estimate(
            sketch, probes, "k", depth=4, width=512, est_col="e"
        ).collect()
    }
    # 3 keys × 4 rows in a 512-wide grid: the probability of ANY pair
    # colliding in ALL 4 rows is ~(3/512)^4 ≈ 1e-9 per pair — and the
    # grid is deterministic, so this either always passes or never does.
    assert est == {1: 3, 2: 2, 7: 1}


def test_cms_partial_sketches_sum_to_the_full_sketch(spark):
    """Mergeability = the SUM monoid: sketch(A) + sketch(B) == sketch(A∪B)
    cell-wise, for disjoint slices A/B. This is what bounds a map task's
    output at grid size regardless of input size."""
    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_partkey", "l_orderkey"
    )
    a = li.filter(F.col("l_orderkey") % 2 == 0)
    b = li.filter(F.col("l_orderkey") % 2 == 1)
    merged = (
        cms_build(a, "l_partkey")
        .unionByName(cms_build(b, "l_partkey"))
        .groupBy("row_j", "pos")
        .agg(F.sum("c").alias("c"))
    )
    full = cms_build(li, "l_partkey")
    assert merged.exceptAll(full).isEmpty()
    assert full.exceptAll(merged).isEmpty()


def test_bloom_prune_eval_oracle_parity_and_soundness(spark):
    from tests.oracle_harness import compare

    for sf_dir in (SF_SMOKE, SF_CORRECT):
        ok, msg = compare(
            spark,
            sf_dir,
            "bloom_prune_eval",
            q_bloom_prune_eval,
            _bloom_sql(),
        )
        assert ok, f"{sf_dir}: {msg}"
    row = q_bloom_prune_eval(spark, SF_CORRECT).collect()[0]
    # soundness: every true member passes (no false negatives) — the
    # pass set is exactly members + false positives
    assert row["n_bloom_passed"] == row["n_true_members"] + row["n_false_pos"]
    assert 0.0 <= row["fpr"] < 1.0


def test_bloom_has_no_false_negatives_rowwise(spark):
    """The summary identity above could mask an offsetting pair; pin the
    row-wise property: member ⇒ bloom_pass, on real fixture keys."""
    cust = load_table(spark, SF_SMOKE, "customer")
    members = (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("k"))
        .distinct()
    )
    bits = bloom_build(members, "k")
    flagged = bloom_probe(bits, members, "k")
    assert flagged.filter(~F.col("bloom_pass")).isEmpty()


def test_sketch_probe_plans_broadcast_the_sketch(spark):
    """The probe joins must broadcast the grid/bit set (bounded by
    construction) — a shuffled sort-merge join here would defeat the
    sketch's purpose at scale."""
    plan_cms = q_cms_freq(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
    plan_bloom = q_bloom_prune_eval(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_cms
    assert "BroadcastHashJoin" in plan_bloom


def test_join_size_estimate_parity_and_one_sidedness(spark):
    """Staged r14 candidate: the CMS inner-product join-size pre-flight.
    Parity at both fixture SFs; the estimate must never undercount the
    exact join cardinality (collisions only add cross terms)."""
    from data_engineer_development_spark.queries.sketch_ops import (
        _join_size_sql,
        q_join_size_estimate,
    )
    from tests.oracle_harness import compare

    for sf_dir in (SF_SMOKE, SF_CORRECT):
        ok, msg = compare(
            spark,
            sf_dir,
            "join_size_estimate",
            q_join_size_estimate,
            _join_size_sql(),
        )
        assert ok, f"{sf_dir}: {msg}"
    row = q_join_size_estimate(spark, SF_CORRECT).collect()[0]
    assert row["exact_rows"] > 0
    assert row["est_rows"] >= row["exact_rows"]
    assert row["overestimate"] == row["est_rows"] - row["exact_rows"]


def test_cms_join_size_exact_when_no_collisions(spark):
    """On a key set small enough that no grid row collides, the inner
    product equals the true join size exactly."""
    from data_engineer_development_spark.operators.sketches import (
        cms_build,
        cms_join_size,
    )

    a = spark.createDataFrame([(k,) for k in [1, 1, 2, 3]], "k long")
    b = spark.createDataFrame([(k,) for k in [1, 2, 2, 2, 4]], "k long")
    est = cms_join_size(cms_build(a, "k"), cms_build(b, "k")).collect()[0]
    # true join size: key 1 -> 2*1, key 2 -> 1*3 = 5; keys 3/4 unmatched
    # 4 distinct keys x 4 rows in a 512-wide grid: all-rows collision
    # probability ~1e-9 per pair, and the grid is deterministic.
    assert est["est_rows"] == 5


def test_quantile_sketch_eval_oracle_parity(spark):
    """Staged r14 (VERDICT r13 #8's approx/exact percentile pair):
    hash-exact parity at both fixture SFs — the whole row set is
    integer arithmetic on ROUND(x*100) cents."""
    from data_engineer_development_spark.queries.sketch_ops import (
        _quantile_sketch_sql,
        q_quantile_sketch_eval,
    )
    from tests.oracle_harness import compare

    for sf_dir in (SF_SMOKE, SF_CORRECT):
        ok, msg = compare(
            spark,
            sf_dir,
            "quantile_sketch_eval",
            q_quantile_sketch_eval,
            _quantile_sketch_sql(),
        )
        assert ok, f"{sf_dir}: {msg}"


def test_quantile_exact_matches_sorted_selection(spark):
    """exact_quantiles == value at 1-based rank ceil(p*n) of the sorted
    multiset — crafted input with duplicates and n not divisible by any
    denominator, so every ceil actually rounds."""
    from data_engineer_development_spark.operators.sketches import (
        exact_quantiles,
    )

    vals = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5]  # n = 11, dups
    probs = [(1, 4), (1, 2), (3, 4), (19, 20)]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = {
        (r["p_num"], r["p_den"]): (r["k"], r["exact"])
        for r in exact_quantiles(df, "v", probs).collect()
    }
    s = sorted(vals)
    for num, den in probs:
        k = -(-num * len(vals) // den)  # ceil
        assert got[(num, den)] == (k, s[k - 1]), (num, den)


def test_quantile_estimate_one_sided_and_bounded(spark):
    """est >= exact always (the family's one-sided discipline) and the
    overestimate is under one bin width; a degenerate single-value
    input collapses both sides to that value."""
    from data_engineer_development_spark.operators.sketches import (
        exact_quantiles,
        histogram_quantile_estimate,
    )
    from data_engineer_development_spark.queries.sketch_ops import (
        q_quantile_sketch_eval,
    )

    rows = q_quantile_sketch_eval(spark, SF_CORRECT).collect()
    assert len(rows) == 4
    lo_hi = None
    for r in rows:
        assert r["overestimate"] >= 0
        assert r["est_cents"] == r["exact_cents"] + r["overestimate"]
    # bin width bound: span/bins rounded up, recomputed from the data
    from data_engineer_development_spark.sources import load_table
    from pyspark.sql import functions as F  # noqa: F811 — local alias

    cents = load_table(spark, SF_CORRECT, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("c")
    )
    b = cents.agg(F.min("c").alias("lo"), F.max("c").alias("hi")).collect()[0]
    width = -(-(b["hi"] - b["lo"] + 1) // 4096)
    for r in rows:
        assert r["overestimate"] <= width

    one = spark.createDataFrame([(7,)] * 5, "v long")
    est = histogram_quantile_estimate(one, "v", [(1, 2)]).collect()[0]
    exa = exact_quantiles(one, "v", [(1, 2)]).collect()[0]
    assert est["est"] == exa["exact"] == 7


def test_quantile_estimate_broadcasts_controls_and_stays_narrow(spark):
    """Plan shape: the 1-row stats and <=4-row rank targets ride
    broadcasts, the exact side's prefix sum runs its narrow Arrow local
    pass, and no sort of the raw input appears anywhere (distributed
    selection is the point)."""
    from data_engineer_development_spark.queries.sketch_ops import (
        q_quantile_sketch_eval,
    )

    plan = (
        q_quantile_sketch_eval(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" in plan  # bounded control-side joins
    assert "MapInPandas" in plan  # with_global_cumsum's narrow local pass


def test_kfold_balance_parity_and_partitioning(spark):
    """Staged r14: the k-fold balance audit hash-matches its oracle at
    both fixture SFs, cells partition each language exactly, and the
    per-mille shares are the integer-div of the cell over the language
    total."""
    from data_engineer_development_spark.queries.sampling import (
        _KFOLD_K,
        _KFOLD_SQL,
        q_kfold_balance,
    )
    from tests.oracle_harness import compare

    for sf_dir in (SF_SMOKE, SF_CORRECT):
        ok, msg = compare(
            spark, sf_dir, "kfold_balance", q_kfold_balance, _KFOLD_SQL
        )
        assert ok, f"{sf_dir}: {msg}"
    rows = q_kfold_balance(spark, SF_CORRECT).collect()
    assert {r["fold"] for r in rows} <= set(range(_KFOLD_K))
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r["lang"], 0)
        by_lang[r["lang"]] += r["n_docs"]
        assert r["share_milli"] == r["n_docs"] * 1000 // by_lang_total(
            rows, r["lang"]
        )
    from data_engineer_development_spark.sources import load_table

    lang_tot = {
        r["lang"]: r["n"]
        for r in load_table(spark, SF_CORRECT, "documents")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert by_lang == lang_tot  # folds partition every language


def by_lang_total(rows, lang):
    return sum(r["n_docs"] for r in rows if r["lang"] == lang)


def test_analyze_table_stats_parity_and_sketch_sanity(spark):
    """Staged r14: the ANALYZE-style column-stats sweep hash-matches its
    oracle at both fixture SFs, min/max compare on the native type (the
    integer column's min must be numeric, not lexicographic), and the
    KMV NDV estimate is exact below k and within the sketch's relative
    error above it."""
    from data_engineer_development_spark.queries.sketch_ops import (
        _STATS_K,
        _analyze_stats_sql,
        q_analyze_table_stats,
    )
    from tests.oracle_harness import compare

    for sf_dir in (SF_SMOKE, SF_CORRECT):
        ok, msg = compare(
            spark,
            sf_dir,
            "analyze_table_stats",
            q_analyze_table_stats,
            _analyze_stats_sql(),
        )
        assert ok, f"{sf_dir}: {msg}"
    rows = {r["col_name"]: r for r in
            q_analyze_table_stats(spark, SF_CORRECT).collect()}
    flag = rows["l_returnflag"]
    assert flag["ndv_exact"] < _STATS_K
    assert flag["ndv_est"] == flag["ndv_exact"]  # exact below k
    ok_ = rows["l_orderkey"]
    # native-type MIN/MAX, not lexicographic (review r14: int(min) <=
    # int(max) is vacuous — pin max_value to the true numeric max, which
    # a cast-before-MAX regression ('9…' lexicographic max) would break)
    from data_engineer_development_spark.sources import load_table
    from pyspark.sql import functions as F  # noqa: F811 — local alias

    true_max = (
        load_table(spark, SF_CORRECT, "lineitem")
        .agg(F.max("l_orderkey"))
        .collect()[0][0]
    )
    assert int(ok_["max_value"]) == true_max
    if ok_["ndv_exact"] >= _STATS_K:
        rel = abs(ok_["ndv_est"] - ok_["ndv_exact"]) / ok_["ndv_exact"]
        assert rel < 0.25, rel  # k=256 → ~1/sqrt(k) ≈ 6% expected
    for r in rows.values():
        assert r["n_nulls"] == 0  # fixture columns are dense
        assert r["n_rows"] >= r["ndv_exact"]


def test_quantiles_ignore_nulls_and_clamp_to_observed_max(spark):
    """ADVICE r14: (1) NULL value rows carry no rank — both quantile
    sides filter them out, so results equal the NULL-free input's (a
    NULL counted into _n would inflate k and shift or empty the
    selection); (2) the histogram estimate is clamped to least(_hi, ·),
    so the last crossing bin estimates the true maximum instead of
    overshooting past it (and can never wrap near int64 max)."""
    from data_engineer_development_spark.operators.sketches import (
        exact_quantiles,
        histogram_quantile_estimate,
    )

    vals = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5]
    probs = [(1, 2), (19, 20)]
    clean = spark.createDataFrame([(v,) for v in vals], "v long")
    dirty = spark.createDataFrame(
        [(v,) for v in vals] + [(None,)] * 7, "v long"
    )
    for fn in (exact_quantiles, histogram_quantile_estimate):
        a = {
            (r["p_num"], r["p_den"]): tuple(r)
            for r in fn(clean, "v", probs).collect()
        }
        b = {
            (r["p_num"], r["p_den"]): tuple(r)
            for r in fn(dirty, "v", probs).collect()
        }
        assert a == b, fn.__name__
    # clamp: p=1 targets the max; the raw last-bin formula overshoots
    # (lo + (bin+1)*width - 1 > hi unless the span divides evenly),
    # the bounded form pins it to the observed maximum exactly
    est = histogram_quantile_estimate(clean, "v", [(1, 1)], bins=7)
    assert est.collect()[0]["est"] == max(vals)
    # near-int64-max sentinel with a WIDE span (review r15: the narrow
    # {max-2, max-100} case had width 1 and never overflowed, so it
    # passed even with the broken least(hi, raw) clamp whose raw term
    # lo + (bin+1)*width - 1 wraps past int64 here: width = 245,
    # crossing bin 4081, raw = 2^63 + 88)
    big = spark.createDataFrame(
        [(2**63 - 1 - 1_000_000,), (2**63 - 1,)], "v long"
    )
    rows = histogram_quantile_estimate(
        big, "v", [(1, 2), (1, 1)], bins=4096
    ).collect()
    by_p = {(r["p_num"], r["p_den"]): r["est"] for r in rows}
    assert by_p[(1, 1)] == 2**63 - 1  # est(max) == observed max, no wrap
    assert 0 < by_p[(1, 2)] <= 2**63 - 1  # one-sided, in range


def _parity(spark, name, fn, sql):
    from tests.oracle_harness import compare

    for sf_dir in (SF_SMOKE, SF_CORRECT):
        ok, msg = compare(spark, sf_dir, name, fn, sql)
        assert ok, f"{sf_dir}: {msg}"


def test_approx_group_percentiles_oracle_parity(spark):
    from data_engineer_development_spark.queries.sketch_ops import (
        _APPROX_GROUP_PCTL_SQL,
        q_approx_group_percentiles,
    )

    _parity(
        spark,
        "approx_group_percentiles",
        q_approx_group_percentiles,
        _APPROX_GROUP_PCTL_SQL,
    )


def test_grouped_histogram_estimate_one_sided_and_bounded(spark):
    """Per (group, percentile): est ≥ exact ALWAYS (one-sided, the
    sketch-family contract) and est − exact < the group's bin width
    ceil(span_g / bins)."""
    from data_engineer_development_spark.queries.sketch_ops import (
        _AGP_BINS,
        q_approx_group_percentiles,
    )
    from data_engineer_development_spark.sources import load_table

    out = q_approx_group_percentiles(spark, SF_CORRECT).collect()
    assert out, "no rows"
    spans = {
        r["grp"]: r["span"]
        for r in load_table(spark, SF_CORRECT, "lineitem")
        .select(
            F.col("l_returnflag").alias("grp"),
            F.round(F.col("l_extendedprice") * 100)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("grp")
        .agg((F.max("cents") - F.min("cents") + 1).alias("span"))
        .collect()
    }
    for r in out:
        assert r["overestimate"] >= 0, r
        width = -(-spans[r["grp"]] // _AGP_BINS)  # ceil
        assert r["overestimate"] < width, (r, width)


def test_grouped_histogram_quantiles_null_and_exactness(spark):
    """NULL values carry no rank; a group whose values all fit distinct
    bins estimates exactly (overestimate 0 when every value is its own
    bin ceiling)."""
    from data_engineer_development_spark.operators.sketches import (
        grouped_histogram_quantiles,
    )

    cnt = spark.createDataFrame(
        [("a", 1, 1), ("a", 2, 1), ("a", None, 5), ("b", 10, 3)],
        "g string, v int, c int",
    )
    got = {
        (r["g"], r["p_num"], r["p_den"]): (r["k"], r["est"])
        for r in grouped_histogram_quantiles(
            cnt, "g", "v", "c", [(1, 2)], bins=16
        ).collect()
    }
    # group a: n=2 (NULL row excluded), k=1, est covers value 1 exactly
    # (span 2, width 1 → bin per value)
    assert got[("a", 1, 2)] == (1, 1)
    # group b: single value, k=2 of n=3, est = the value
    assert got[("b", 1, 2)] == (2, 10)
