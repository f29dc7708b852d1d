"""Round-15 staged candidates (r16 registration queue): batch gap
sessionization, CDC latest-wins apply, the DQ expectation suite, and
degree-ordered triangle counting — oracle parity at both fixture SFs
plus the invariants each operator's semantics promise."""

from __future__ import annotations

from conftest import SF_CORRECT, SF_SMOKE
from pyspark.sql import functions as F


def _parity(spark, name, fn, sql):
    from tests.oracle_harness import compare

    for sf_dir in (SF_SMOKE, SF_CORRECT):
        ok, msg = compare(spark, sf_dir, name, fn, sql)
        assert ok, f"{sf_dir}: {msg}"


def test_sessionize_events_oracle_parity(spark):
    from data_engineer_development_spark.queries.behavior import (
        _SESSIONIZE_SQL,
        q_sessionize_events,
    )

    _parity(spark, "sessionize_events", q_sessionize_events, _SESSIONIZE_SQL)


def test_sessionize_conserves_events_and_bounds_sessions(spark):
    """Every event lands in exactly one session (sum of n_events equals
    the table count); session counts are positive and bounded by the
    user's event count; a single-event session has zero duration, so
    active_us is non-negative everywhere."""
    from data_engineer_development_spark.queries.behavior import (
        q_sessionize_events,
    )
    from data_engineer_development_spark.sources import load_table

    out = q_sessionize_events(spark, SF_CORRECT)
    total_events = load_table(spark, SF_CORRECT, "events").count()
    agg = out.agg(
        F.sum("n_events").alias("ev"),
        F.min("n_sessions").alias("min_s"),
        F.min("active_us").alias("min_dur"),
        F.sum((F.col("n_sessions") > F.col("n_events")).cast("int")).alias(
            "bad"
        ),
    ).collect()[0]
    assert agg["ev"] == total_events
    assert agg["min_s"] >= 1
    assert agg["min_dur"] >= 0
    assert agg["bad"] == 0


def test_cdc_apply_oracle_parity(spark):
    from data_engineer_development_spark.queries.warehouse_ops import (
        _CDC_APPLY_SQL,
        q_cdc_apply,
    )

    _parity(spark, "cdc_apply", q_cdc_apply, _CDC_APPLY_SQL)


def test_cdc_apply_latest_wins_and_deletes_erase(spark):
    """The surviving state is exactly the non-deleted keys (%7 != 0),
    and the balance reflects the latest op per key: base cents plus
    1000 for every surviving key the v2 update touched (%5 == 0)."""
    from data_engineer_development_spark.queries.warehouse_ops import (
        q_cdc_apply,
    )
    from data_engineer_development_spark.sources import load_table

    got = q_cdc_apply(spark, SF_CORRECT).agg(
        F.sum("n_rows").alias("n"), F.sum("balance_cents").alias("bal")
    ).collect()[0]
    o = load_table(spark, SF_CORRECT, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    exp = o.filter(F.col("k") % 7 != 0).agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum("cents")
            + F.sum(((F.col("k") % 5) == 0).cast("long")) * 1000
        ).alias("bal"),
    ).collect()[0]
    assert (got["n"], got["bal"]) == (exp["n"], exp["bal"])


def test_dq_expectations_oracle_parity(spark):
    from data_engineer_development_spark.queries.dq import (
        _DQ_SQL,
        q_dq_expectations,
    )

    _parity(spark, "dq_expectations", q_dq_expectations, _DQ_SQL)


def test_dq_expectations_report_shape_and_known_verdicts(spark):
    """The fixture's contract profile is known: shipdate nulls, quantity
    range, accepted returnflags, and FK integrity all PASS; the
    (l_orderkey, l_linenumber) uniqueness expectation FAILS with a
    positive violation count — a mixed report, which is the point of a
    report over a job-failing assert."""
    from data_engineer_development_spark.queries.dq import q_dq_expectations

    rows = {
        r["check_name"]: (r["n_violations"], r["passed"])
        for r in q_dq_expectations(spark, SF_CORRECT).collect()
    }
    assert len(rows) == 5
    for name in (
        "not_null_l_shipdate",
        "range_l_quantity_1_50",
        "accepted_l_returnflag",
        "fk_l_orderkey_in_orders",
    ):
        assert rows[name] == (0, 1), name
    v, passed = rows["unique_l_orderkey_l_linenumber"]
    assert v > 0 and passed == 0


def test_triangle_count_oracle_parity(spark):
    from data_engineer_development_spark.queries.behavior import (
        _TRIANGLE_SQL,
        q_triangle_count,
    )

    _parity(spark, "triangle_count", q_triangle_count, _TRIANGLE_SQL)


def test_count_triangles_on_crafted_graphs(spark):
    """K4 has exactly 4 triangles; adding a pendant edge adds none;
    duplicate edges, reversed duplicates, and self-loops are
    canonicalized away rather than inflating the count."""
    from data_engineer_development_spark.operators.graph import (
        count_triangles,
    )

    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    noisy = (
        k4
        + [(b, a) for a, b in k4]  # reversed duplicates
        + [(1, 1), (2, 2)]  # self-loops
        + [(4, 9)]  # pendant edge: no new triangle
    )
    df = spark.createDataFrame(noisy, "src long, dst long")
    row = count_triangles(df).collect()[0]
    assert row["n_nodes"] == 5
    assert row["n_edges"] == 7  # 6 K4 edges + the pendant
    assert row["n_triangles"] == 4


def test_count_triangles_orientation_bounds_wedge_fanout(spark):
    """The celebrity-skew guard: a star (one hub, 40 spokes) has zero
    triangles and — because orientation points every spoke edge AT the
    hub (max degree) — the hub emits no wedges at all; a star plus one
    spoke-spoke edge has exactly one triangle."""
    from data_engineer_development_spark.operators.graph import (
        count_triangles,
    )

    star = [(0, i) for i in range(1, 41)]
    assert (
        count_triangles(
            spark.createDataFrame(star, "src long, dst long")
        ).collect()[0]["n_triangles"]
        == 0
    )
    assert (
        count_triangles(
            spark.createDataFrame(star + [(1, 2)], "src long, dst long")
        ).collect()[0]["n_triangles"]
        == 1
    )


def test_assoc_rules_oracle_parity(spark):
    from data_engineer_development_spark.queries.analytics import (
        _ASSOC_RULES_SQL,
        q_assoc_rules,
    )

    _parity(spark, "assoc_rules", q_assoc_rules, _ASSOC_RULES_SQL)


def test_assoc_rules_invariants(spark):
    """Every pair yields both directed rules with a SHARED support;
    confidence is in (0, 1]; support never exceeds either item count;
    and lift is symmetric across the two directions of a pair."""
    from data_engineer_development_spark.queries.analytics import (
        q_assoc_rules,
    )

    df = q_assoc_rules(spark, SF_CORRECT)
    bad = df.filter(
        (F.col("confidence") <= 0)
        | (F.col("confidence") > 1)
        | (F.col("n_both") > F.col("n_ante"))
        | (F.col("n_both") > F.col("n_cons"))
    ).count()
    assert bad == 0
    rows = df.count()
    assert rows > 0 and rows % 2 == 0  # both directions present
    fwd = df.select(
        "antecedent", "consequent", F.col("lift").alias("l1")
    )
    rev = df.select(
        F.col("consequent").alias("antecedent"),
        F.col("antecedent").alias("consequent"),
        F.col("lift").alias("l2"),
    )
    asym = (
        fwd.join(rev, ["antecedent", "consequent"])
        .filter(F.col("l1") != F.col("l2"))
        .count()
    )
    assert asym == 0


def test_event_transitions_oracle_parity(spark):
    from data_engineer_development_spark.queries.behavior import (
        _EVENT_TRANSITIONS_SQL,
        q_event_transitions,
    )

    _parity(
        spark, "event_transitions", q_event_transitions,
        _EVENT_TRANSITIONS_SQL,
    )


def test_event_transitions_rows_are_a_stochastic_matrix(spark):
    """Per current-state row the probabilities sum to exactly 1 up to
    IEEE rounding of the final additions (each p is n/n_cur with a
    shared exact denominator), and total transition count equals
    events minus one per active user (each user's last event has no
    successor)."""
    from data_engineer_development_spark.queries.behavior import (
        q_event_transitions,
    )
    from data_engineer_development_spark.sources import load_table

    df = q_event_transitions(spark, SF_CORRECT)
    rows = df.collect()
    by_cur: dict = {}
    for r in rows:
        by_cur.setdefault(r["cur"], []).append(r)
    for cur, rs in by_cur.items():
        assert abs(sum(x["p"] for x in rs) - 1.0) < 1e-12, cur
        assert all(x["n_cur"] == rs[0]["n_cur"] for x in rs)
        assert sum(x["n"] for x in rs) == rs[0]["n_cur"]
    ev = load_table(spark, SF_CORRECT, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert sum(r["n"] for r in rows) == n_events - n_users


def test_staged_plans_carry_no_silent_scale_killers(spark):
    """Pre-registration plan sweep (the registered-surface sweep in
    test_plans.py picks these up only at r16 registration): every
    window PARTITIONED, no row-at-a-time Python anywhere, and the only
    nested-loop joins are triangle_count's and assoc_rules' documented
    1-row stat crosses (their _CARTESIAN_OK entries-to-be)."""
    from data_engineer_development_spark.queries.analytics import (
        q_assoc_rules,
    )
    from data_engineer_development_spark.queries.behavior import (
        q_event_transitions,
        q_sessionize_events,
        q_triangle_count,
    )
    from data_engineer_development_spark.queries.dq import q_dq_expectations
    from data_engineer_development_spark.queries.sketch_ops import (
        q_grouped_quantiles,
    )
    from data_engineer_development_spark.queries.warehouse_ops import (
        q_cdc_apply,
        q_snapshot_evolution_read,
    )
    from tests.test_plans import _unpartitioned_windows

    # triangle/assoc: documented 1-row stat crosses; grouped_quantiles:
    # the |groups|×|probs| rank-target cross (3×2 rows)
    cartesian_ok = {"triangle_count", "assoc_rules", "grouped_quantiles"}
    bad = []
    for name, fn in [
        ("sessionize_events", q_sessionize_events),
        ("cdc_apply", q_cdc_apply),
        ("dq_expectations", q_dq_expectations),
        ("triangle_count", q_triangle_count),
        ("assoc_rules", q_assoc_rules),
        ("event_transitions", q_event_transitions),
        ("grouped_quantiles", q_grouped_quantiles),
        ("snapshot_evolution_read", q_snapshot_evolution_read),
    ]:
        qe = fn(spark, SF_CORRECT)._jdf.queryExecution()
        physical = qe.executedPlan().toString()
        optimized = qe.optimizedPlan().toString()
        if _unpartitioned_windows(optimized):
            bad.append(f"{name}: unpartitioned window")
        if "BatchEvalPython" in physical:
            bad.append(f"{name}: row-at-a-time Python UDF")
        if name not in cartesian_ok and (
            "CartesianProduct" in physical
            or "BroadcastNestedLoopJoin" in physical
        ):
            bad.append(f"{name}: cartesian/nested-loop")
    assert not bad, bad


def test_count_triangles_matches_bruteforce_on_random_graphs(spark):
    """Property check (seeded enumeration, no Spark-per-example
    hypothesis overhead): on a batch of small random graphs the
    orientation count equals the itertools brute force — the
    whole-algorithm analogue of the crafted K4/star pins."""
    import itertools
    import random

    from data_engineer_development_spark.operators.graph import (
        count_triangles,
    )

    rng = random.Random(42)
    for trial in range(6):
        n = rng.randint(4, 11)
        density = rng.choice([0.2, 0.4, 0.7])
        edges = [
            (a, b)
            for a in range(n)
            for b in range(n)
            if a < b and rng.random() < density
        ]
        if not edges:
            continue
        eset = set(edges)
        expected = sum(
            1
            for a, b, c in itertools.combinations(range(n), 3)
            if (a, b) in eset and (a, c) in eset and (b, c) in eset
        )
        # feed noisy duplicates/reversals too
        noisy = edges + [(b, a) for a, b in edges if rng.random() < 0.5]
        got = count_triangles(
            spark.createDataFrame(noisy, "src long, dst long")
        ).collect()[0]["n_triangles"]
        assert got == expected, (trial, n, density, expected, got)


def test_grouped_quantiles_oracle_parity(spark):
    from data_engineer_development_spark.queries.sketch_ops import (
        _GROUPED_QUANTILES_SQL,
        q_grouped_quantiles,
    )

    _parity(
        spark, "grouped_quantiles", q_grouped_quantiles,
        _GROUPED_QUANTILES_SQL,
    )


def test_grouped_quantiles_match_per_group_sorted_selection(spark):
    """Each (group, p) row equals the value at 1-based rank ceil(p*n_g)
    of THAT group's sorted multiset — recomputed here by literally
    sorting each group's values driver-side at the small fixture SF."""
    from data_engineer_development_spark.queries.sketch_ops import (
        _GQ_PROBS,
        q_grouped_quantiles,
    )
    from data_engineer_development_spark.sources import load_table

    got = {
        (r["grp"], r["p_num"], r["p_den"]): (r["k"], r["q"])
        for r in q_grouped_quantiles(spark, SF_SMOKE).collect()
    }
    vals: dict = {}
    for r in (
        load_table(spark, SF_SMOKE, "lineitem")
        .select("l_returnflag", F.round(F.col("l_extendedprice") * 100)
                .cast("long").alias("v"))
        .collect()
    ):
        vals.setdefault(r["l_returnflag"], []).append(r["v"])
    for grp, vs in vals.items():
        vs.sort()
        for num, den in _GQ_PROBS:
            k = -(-num * len(vs) // den)
            assert got[(grp, num, den)] == (k, vs[k - 1]), (grp, num, den)
