"""SemDeDup — embedding-space dedup (operators/similarity.semdedup)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from conftest import SF_CORRECT

from data_engineer_development_spark.operators.similarity import semdedup
from data_engineer_development_spark.queries.similarity import q_semantic_dedup


def test_plan_is_cellwise_never_corpus_squared(spark):
    """The 100 TB contract: codebook assignment is a pure projection (the
    literal-array argmax — no exchange between the scan and the pair
    join), and candidate pairs come from an equi-join on the cell key —
    no cartesian, no nested-loop, no corpus×corpus."""
    plan = (
        q_semantic_dedup(spark, SF_CORRECT)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_known_duplicates_drop_toward_lowest_id(spark):
    """A scaled copy quantizes to the identical int8 vector (cos = 1.0):
    it must drop with dup_of = the lowest covering id; orthogonal vectors
    must keep; zero vectors leave the pool entirely."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [2.5, 0.0, 0.0, 0.0]),   # scaled copy of 0 → dup_of 0
        (3, [0.0, -3.0, 0.0, 0.0]),  # anti-parallel to 1 → cos -1, keep
        (4, [0.5, 0.0, 0.0, 0.0]),   # another copy of 0 → dup_of 0, not 2
        (5, [0.0, 0.0, 0.0, 0.0]),   # zero vector → excluded
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in semdedup(df, k_cells=2, tau=0.9).collect()}
    assert 5 not in out
    assert out[2]["dup_of"] == 0 and out[2]["keep"] == 0
    assert out[4]["dup_of"] == 0 and out[4]["keep"] == 0
    assert out[0]["keep"] == 1 and out[1]["keep"] == 1 and out[3]["keep"] == 1


def test_registry_split_is_nontrivial(spark):
    """At sf0.01 the τ=0.4 threshold must drop some but not all vectors —
    a degenerate all-keep (or all-drop) result would make the entry
    untestable."""
    agg = (
        q_semantic_dedup(spark, SF_CORRECT)
        .groupBy("keep")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert sorted(r["keep"] for r in agg) == [0, 1], agg


def test_quantized_truth_pairs_on_known_vectors(spark):
    """The exact truth kernel must find precisely the known near-dup pairs
    (scaled copies quantize identically → cos 1.0; orthogonal pairs score
    0) — and the float64 BLAS path must agree with integer math."""
    from data_engineer_development_spark.operators.similarity import (
        quantized_neardup_pairs,
    )

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [4.0, 0.0, 0.0, 0.0]),   # copy of 0
        (3, [0.0, 0.25, 0.0, 0.0]),  # copy of 1
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r["id1"], r["id2"])
        for r in quantized_neardup_pairs(df, tau=0.9).collect()
    }
    assert got == {(0, 2), (1, 3)}


def test_mixed_width_corpus_pins_to_caller_dims(spark):
    """An off-width vector — even at a codebook-eligible low id — must be
    excluded when the caller pins ``dims``, exactly as the oracle's
    dims-filtered ``v`` CTE excludes it; and the codebook must come from
    the surviving widths only (the lowest usable id was off-width here).
    With dims=None the lowest usable id's width wins, deterministically."""
    rows = [
        (0, [1.0, 0.0, 0.0]),        # 3-wide: codebook-eligible id, wrong width
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.0, 2.0, 0.0, 0.0]),   # copy of 1 → dup_of 1
        (3, [1.0, 0.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r["vec_id"]: r
        for r in semdedup(df, k_cells=2, tau=0.9, dims=4).collect()
    }
    assert 0 not in out, "off-width vector must not participate"
    assert set(out) == {1, 2, 3}
    assert out[2]["dup_of"] == 1 and out[2]["keep"] == 0
    # dims=None: the lowest usable codebook id (0, width 3) pins width 3
    out_auto = {
        r["vec_id"]: r for r in semdedup(df, k_cells=2, tau=0.9).collect()
    }
    assert set(out_auto) == {0}

    from data_engineer_development_spark.operators.similarity import (
        quantized_neardup_pairs,
    )

    got = {
        (r["id1"], r["id2"])
        for r in quantized_neardup_pairs(df, tau=0.9, dims=4).collect()
    }
    assert got == {(1, 2)}


def test_recall_eval_is_consistent(spark):
    """n_within_cell ≤ n_true, recall = ratio exactly, and the sf0.01
    numbers are non-degenerate (some — not all — truth pairs share a
    cell, so the eval actually measures the restriction)."""
    from data_engineer_development_spark.queries.similarity import (
        q_semdedup_recall_eval,
    )

    r = q_semdedup_recall_eval(spark, SF_CORRECT).collect()[0]
    assert 0 < r["n_within_cell"] < r["n_true"]
    assert r["recall"] == r["n_within_cell"] / r["n_true"]


def test_lloyd_training_is_stable_on_degenerate_corpus(spark):
    """All-identical corpus: every vector lands in the seed-0 cell (tie →
    lowest cent_id), the other cell EMPTIES and must carry its previous
    centroid through every round (the empty-cell rule) — training must
    neither crash nor change the verdicts."""
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r["vec_id"]: r
        for r in semdedup(df, k_cells=2, tau=0.9, train_iters=2).collect()
    }
    assert set(out) == {0, 1, 2, 3}
    assert all(r["cell"] == 0 for r in out.values())
    assert out[0]["keep"] == 1
    assert all(out[i]["dup_of"] == 0 and out[i]["keep"] == 0 for i in (1, 2, 3))


def test_lloyd_training_lifts_recall_on_fixture(spark):
    """The point of training (VERDICT r9 #2): within-cell recall of the
    true quantized near-dup pairs must be strictly higher with trained
    centroids than with the raw id seed. Deterministic: integer-grid
    Lloyd on a fixed fixture — this pins the measured sf0.1 lift
    (0.285 → 0.343 at iters=2) at test scale."""
    from data_engineer_development_spark.operators.similarity import (
        quantized_neardup_pairs,
    )
    from data_engineer_development_spark.queries.similarity import (
        DIMS,
        _SD_K,
        _SD_TAU,
    )
    from data_engineer_development_spark.sources import load_table

    vecs = load_table(spark, SF_CORRECT, "embeddings")
    truth = quantized_neardup_pairs(vecs, _SD_TAU, dims=DIMS)
    t = [(r["id1"], r["id2"]) for r in truth.collect()]
    recalls = {}
    for iters in (0, 2):
        asg = {
            r["vec_id"]: r["cell"]
            for r in semdedup(
                vecs, k_cells=_SD_K, tau=_SD_TAU, dims=DIMS, train_iters=iters
            ).collect()
        }
        recalls[iters] = sum(asg[a] == asg[b] for a, b in t) / len(t)
    assert recalls[2] > recalls[0], recalls


def test_lloyd_trainer_matches_pure_python_mirror(spark):
    """Pin the Spark trainer to the documented spec (the same spec the
    DuckDB oracle unrolls): quantize → K-LOWEST-id seed → Lloyd rounds
    with per-dimension rounded integer means and empty-cell carryover →
    argmax assignment (s DESC, cent_id ASC) → per-cell greedy dedup.
    Randomized corpora with SPARSE ids (the r9 ADVICE case: ids nowhere
    near 0) — every number in the mirror is the identical IEEE op chain,
    so equality is exact, not approximate."""
    import math

    import numpy as np

    DIMS, K, ITERS = 4, 3, 2

    def quant(vec):
        v = np.array([float(np.float32(x)) for x in vec], dtype=np.float64)
        mx = float(np.abs(v).max()) if len(v) else 0.0
        if mx == 0.0:
            return np.zeros(len(v), dtype=np.int64)
        return np.floor(v * 127.0 / mx + 0.5).astype(np.int64)

    def mirror(rows, tau):
        q = {vid: quant(vec) for vid, vec in rows}
        usable = {
            vid: qv
            for vid, qv in q.items()
            if len(qv) == DIMS and int(qv @ qv) > 0
        }
        cents = [(vid, usable[vid].copy()) for vid in sorted(usable)[:K]]

        def score(qv, cqv):
            return float(int(qv @ cqv)) / math.sqrt(
                float(int(qv @ qv) * int(cqv @ cqv))
            )

        def assign(cb):
            out = {}
            for vid, qv in usable.items():
                out[vid] = max(cb, key=lambda c: (score(qv, c[1]), -c[0]))[0]
            return out

        for _ in range(ITERS):
            a = assign(cents)
            new = []
            for cid, cqv in cents:
                members = [usable[v] for v, cell in a.items() if cell == cid]
                if members:
                    s = np.sum(np.stack(members), axis=0)
                    n = len(members)
                    # exact integer floor(s/n + 0.5) — the r11 spec both
                    # engines implement ((2s+n) fld (2n); no 2^53 ceiling)
                    nqv = np.array(
                        [(2 * int(sd) + n) // (2 * n) for sd in s],
                        dtype=np.int64,
                    )
                    if int(nqv @ nqv) > 0:
                        new.append((cid, nqv))
                        continue
                new.append((cid, cqv))
            cents = new
        a = assign(cents)
        out = {}
        for vid in sorted(usable):
            dup = None
            for other in sorted(usable):
                if other >= vid or a[other] != a[vid]:
                    continue
                if score2(usable[other], usable[vid]) >= tau:
                    dup = other
                    break
            out[vid] = (a[vid], dup, 0 if dup is not None else 1)
        return out

    def score2(qa, qb):
        return float(int(qa @ qb)) / math.sqrt(
            float(int(qa @ qa) * int(qb @ qb))
        )

    for seed, tau in ((1, 0.4), (2, 0.8), (3, 0.95)):
        rng = np.random.RandomState(seed)
        ids = sorted(rng.choice(range(100, 10_000), size=25, replace=False))
        rows = [
            (int(vid), [float(x) for x in rng.randint(-4, 5, size=DIMS)])
            for vid in ids
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        got = {
            r["vec_id"]: (r["cell"], r["dup_of"], r["keep"])
            for r in semdedup(
                df, k_cells=K, tau=tau, dims=DIMS, train_iters=ITERS
            ).collect()
        }
        assert got == mirror(rows, tau), f"seed={seed} tau={tau}"


def test_semdedup_incremental_known_vectors(spark):
    """Crafted base/new split pins the incremental semantics: a new
    vector covered by a base vector reports the lowest covering BASE id
    even when a lower-id NEW vector also covers it (virtual ordering:
    all base before all new); new-vs-new falls back to the lowest-id
    earlier new; verdicts are emitted for NEW rows only."""
    from data_engineer_development_spark.operators.similarity import (
        semdedup_incremental,
    )

    base = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    new = spark.createDataFrame(
        [
            (1, [2.0, 0.0, 0.0, 0.0]),  # covered by base 0
            (3, [3.0, 0.0, 0.0, 0.0]),  # covered by base 0 AND new 1 → 0
            (5, [0.0, 0.0, 1.0, 0.0]),  # uncovered → keep
            (7, [0.0, 0.0, 2.0, 0.0]),  # covered by new 5
        ],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["vec_id"]: (r["dup_of"], r["keep"])
        for r in semdedup_incremental(
            base, new, k_cells=2, tau=0.9, dims=4, train_iters=0
        ).collect()
    }
    assert got == {1: (0, 0), 3: (0, 0), 5: (None, 1), 7: (5, 0)}


def test_semdedup_incremental_oracle_parity(spark):
    """Round-11+ registration candidate (COVERAGE.md r10 note): the
    md5-parity-split incremental entry must hold hash-exact oracle
    parity at both fixture SFs, and the two sides of the split must both
    be non-trivial."""
    from data_engineer_development_spark.queries.similarity import (
        _SEMDEDUP_INCR_SQL,
        q_semdedup_incremental,
    )
    from tests.conftest import SF_SMOKE
    from tests.oracle_harness import compare

    for sf_dir in (SF_SMOKE, SF_CORRECT):
        ok, msg = compare(
            spark, sf_dir, "semdedup_incremental",
            q_semdedup_incremental, _SEMDEDUP_INCR_SQL,
        )
        assert ok, f"{sf_dir}: {msg}"

    out = q_semdedup_incremental(spark, SF_CORRECT)
    n_new = out.count()
    n_all = 500
    assert 0 < n_new < n_all  # the parity split left rows on both sides
    assert out.filter("keep = 0").count() > 0  # some new rows are dups


def test_semdedup_incremental_matches_pure_python_mirror(spark):
    """Randomized base/new splits (sparse ids, arbitrary split fractions)
    pin semdedup_incremental to its spec: codebook seeded + Lloyd-trained
    on BASE only then frozen, cells assigned to both sides, a new vector
    dropped by the lowest covering BASE id first, else the lowest-id
    covering earlier NEW vector. Every number in the mirror is the
    identical IEEE op chain — equality is exact."""
    import math

    import numpy as np

    from data_engineer_development_spark.operators.similarity import (
        semdedup_incremental,
    )

    DIMS, K, ITERS = 4, 3, 2

    def quant(vec):
        v = np.array([float(np.float32(x)) for x in vec], dtype=np.float64)
        mx = float(np.abs(v).max()) if len(v) else 0.0
        if mx == 0.0:
            return np.zeros(len(v), dtype=np.int64)
        return np.floor(v * 127.0 / mx + 0.5).astype(np.int64)

    def score(qa, qb):
        return float(int(qa @ qb)) / math.sqrt(
            float(int(qa @ qa) * int(qb @ qb))
        )

    def mirror(base_rows, new_rows, tau):
        ub = {v: quant(x) for v, x in base_rows}
        ub = {v: q for v, q in ub.items() if len(q) == DIMS and int(q @ q) > 0}
        un = {v: quant(x) for v, x in new_rows}
        un = {v: q for v, q in un.items() if len(q) == DIMS and int(q @ q) > 0}
        cents = [(vid, ub[vid].copy()) for vid in sorted(ub)[:K]]

        def assign(cb, pool):
            return {
                vid: max(cb, key=lambda c: (score(qv, c[1]), -c[0]))[0]
                for vid, qv in pool.items()
            }

        for _ in range(ITERS):
            a = assign(cents, ub)
            new_cents = []
            for cid, cqv in cents:
                members = [ub[v] for v, cell in a.items() if cell == cid]
                if members:
                    s = np.sum(np.stack(members), axis=0)
                    nqv = np.array(
                        [int(math.floor(int(sd) / len(members) + 0.5))
                         for sd in s],
                        dtype=np.int64,
                    )
                    if int(nqv @ nqv) > 0:
                        new_cents.append((cid, nqv))
                        continue
                new_cents.append((cid, cqv))
            cents = new_cents
        ab = assign(cents, ub)
        an = assign(cents, un)
        out = {}
        for vid in sorted(un):
            dup = None
            for b in sorted(ub):
                if ab[b] == an[vid] and score(ub[b], un[vid]) >= tau:
                    dup = b
                    break
            if dup is None:
                for o in sorted(un):
                    if o >= vid or an[o] != an[vid]:
                        continue
                    if score(un[o], un[vid]) >= tau:
                        dup = o
                        break
            out[vid] = (an[vid], dup, 0 if dup is not None else 1)
        return out

    for seed, tau in ((11, 0.4), (12, 0.8), (13, 0.95)):
        rng = np.random.RandomState(seed)
        ids = sorted(rng.choice(range(100, 10_000), size=30, replace=False))
        rows = [
            (int(vid), [float(x) for x in rng.randint(-4, 5, size=DIMS)])
            for vid in ids
        ]
        # arbitrary split fraction — NOT interleaved, so base/new id
        # ranges overlap and the virtual ordering is genuinely exercised
        mask = rng.rand(len(rows)) < rng.uniform(0.2, 0.8)
        base_rows = [r for r, m in zip(rows, mask) if m]
        new_rows = [r for r, m in zip(rows, mask) if not m]
        if not base_rows or not new_rows:
            continue
        bdf = spark.createDataFrame(
            base_rows, "vec_id long, embedding array<float>"
        )
        ndf = spark.createDataFrame(
            new_rows, "vec_id long, embedding array<float>"
        )
        got = {
            r["vec_id"]: (r["cell"], r["dup_of"], r["keep"])
            for r in semdedup_incremental(
                bdf, ndf, k_cells=K, tau=tau, dims=DIMS, train_iters=ITERS
            ).collect()
        }
        assert got == mirror(base_rows, new_rows, tau), f"seed={seed}"


def test_incremental_plan_is_cellwise_never_base_squared(spark):
    """Same 100 TB contract for the incremental entry: frozen-codebook
    assignment stays a literal-argmax projection on BOTH sides and the
    kernel is reached through one cell-key exchange — no cartesian, no
    nested-loop join anywhere in the executed plan."""
    from data_engineer_development_spark.queries.similarity import (
        q_semdedup_incremental,
    )

    plan = (
        q_semdedup_incremental(spark, SF_CORRECT)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "FlatMapGroupsInPandas" in plan  # the cell kernel, once


def test_gate_recall_eval_oracle_parity_and_pins_audit(spark):
    """Round-11+ registration candidate: the gate recall eval must hold
    hash-exact oracle parity at both fixture SFs AND reproduce the
    round-10 offline numpy audit's planes=2 row exactly (n_true=58,
    n_same_bucket=28 at sf0.01) — the audit is now driver-checkable."""
    from data_engineer_development_spark.queries.similarity import (
        _GATE_RECALL_SQL,
        q_gate_recall_eval,
    )
    from tests.conftest import SF_SMOKE
    from tests.oracle_harness import compare

    for sf_dir in (SF_SMOKE, SF_CORRECT):
        ok, msg = compare(
            spark, sf_dir, "gate_recall_eval",
            q_gate_recall_eval, _GATE_RECALL_SQL,
        )
        assert ok, f"{sf_dir}: {msg}"

    r = q_gate_recall_eval(spark, SF_CORRECT).collect()[0]
    assert (r["n_true"], r["n_same_bucket"]) == (58, 28)
    assert r["recall"] == 28 / 58


def test_semdedup_incremental_rejects_overlapping_ids(spark):
    """ADVICE r10: the base/new id-disjointness caller contract must fail
    LOUDLY — an overlapping id would otherwise self-cover (cosine 1.0,
    dup_of = its own id) and look like a plausible verdict. The guard
    lives in the per-cell kernel (an overlapping id always lands in the
    same cell twice), so it costs zero extra Spark jobs."""
    import pytest

    base = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (4, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    new = spark.createDataFrame(
        [(4, [0.0, 1.0, 0.0, 0.0]), (5, [0.0, 0.0, 1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    from data_engineer_development_spark.operators.similarity import (
        semdedup_incremental,
    )

    with pytest.raises(Exception, match="disjoint"):
        semdedup_incremental(
            base, new, k_cells=2, tau=0.9, dims=4, train_iters=0
        ).collect()


def test_auto_k_matches_oracle_constant_at_fixture_scale():
    """The registered entries pass k_cells=None (the measured auto-K
    policy); the static oracles pin LIMIT _SD_K. Those agree iff the
    policy resolves to _SD_K at every fixture pool size — embeddings are
    500 / 500 / 2000 usable rows at sf0.001 / 0.01 / 0.1."""
    from data_engineer_development_spark.operators.similarity import (
        SEMDEDUP_MAX_K,
        SEMDEDUP_TARGET_CELL,
        auto_k_cells,
    )
    from data_engineer_development_spark.queries.similarity import _SD_K

    for n in (500, 500, 2000):
        assert auto_k_cells(n) == _SD_K

    # the policy itself: ceil(N/target) once past k_min·target, clamped
    assert auto_k_cells(8 * SEMDEDUP_TARGET_CELL) == 8
    assert auto_k_cells(8 * SEMDEDUP_TARGET_CELL + 1) == 9
    assert auto_k_cells(10**5) == -(-10**5 // SEMDEDUP_TARGET_CELL)  # 98
    import warnings

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        assert auto_k_cells(10**9) == SEMDEDUP_MAX_K  # clamped + warns
        assert any("clamped" in str(x.message) for x in w)


def _argmax_cells(rows, cents):
    """Pure-Python cell reference: exact integer dot, ONE sqrt over the
    exact integer qn·cqn, highest score wins, ties to the lowest
    cent_id."""
    out = {}
    for vid, qv, qn in rows:
        best = None
        for cid, cqv, cqn in sorted(cents):
            dot = sum(a * b for a, b in zip(qv, cqv))
            s = float(dot) / math.sqrt(float(qn * cqn))
            if best is None or s > best[0]:
                best = (s, cid)
        out[vid] = best[1]
    return out


def test_numpy_assignment_equals_reference(spark):
    """The numpy cell scorer must be BIT-IDENTICAL to a pure-Python
    argmax: exact integer dots, IEEE sqrt/divide, and the same (s DESC,
    cent_id ASC) tie-break (cents ascending + np.argmax first-max).
    Checked on the fixture with a raw seed, a Lloyd-trained codebook,
    and an exact-tie codebook (two identical centroids under different
    ids, the lower id listed last) — and with a shard column: two
    shards, each row scored against its own shard's codebook, one shard
    holding the exact tie."""
    from data_engineer_development_spark.operators.similarity import (
        _assign_cells,
        _lloyd_rounds,
        _seed_codebook,
        _with_quantized,
    )
    from data_engineer_development_spark.sources import load_table

    vecs = load_table(spark, SF_CORRECT, "embeddings")
    q = _with_quantized(vecs, "vec_id", "embedding")
    cents, dims = _seed_codebook(q, 8, 64)
    usable = q.filter(
        (F.size("embedding") == dims) & (F.col("qn") > 0)
    ).select("vec_id", "qv", "qn")
    rows = [(r["vec_id"], r["qv"], r["qn"]) for r in usable.collect()]
    hi = 10**6
    tie = [(hi + cid, cqv, cqn) for cid, cqv, cqn in cents[:2]] + [
        (hi - 1, *cents[0][1:])
    ]

    trained = _lloyd_rounds(usable, {None: cents}, dims, 2)[None]
    for cb in (cents, trained, tie):
        npy = {
            r["vec_id"]: r["cell"]
            for r in _assign_cells(usable, {None: cb}).collect()
        }
        assert npy == _argmax_cells(rows, cb)
    tie_cells = set(_argmax_cells(rows, tie).values())
    assert hi - 1 in tie_cells and hi + cents[0][0] not in tie_cells

    # two shards by id parity: shard 0 scores against the raw seed,
    # shard 1 against the exact-tie codebook
    by_shard = {0: cents, 1: tie}
    sharded = usable.withColumn("shard", (F.col("vec_id") % 2).cast("int"))
    got = {
        r["vec_id"]: r["cell"]
        for r in _assign_cells(sharded, by_shard, "shard").collect()
    }
    for s, cb in by_shard.items():
        shard_rows = [r for r in rows if r[0] % 2 == s]
        assert shard_rows
        assert {v: got[v] for v, _, _ in shard_rows} == _argmax_cells(
            shard_rows, cb
        )
    assert hi - 1 in {got[v] for v in got if v % 2 == 1}

    # a projection: no exchange between scan and scorer
    plan = (
        _assign_cells(usable, {None: cents})
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan


def test_semdedup_sharded_isolates_shards(spark):
    """The shard contract: an identical vector pair WITHIN a shard drops
    toward the lowest id; the same pair SPLIT ACROSS shards is out of
    contract (both keep); NULL shard keys leave the pool; each shard
    seeds its own codebook."""
    from data_engineer_development_spark.operators.similarity import (
        semdedup_sharded,
    )

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 10),
        (1, [2.0, 0.0, 0.0, 0.0], 10),   # copy of 0, same shard → drop
        (2, [3.0, 0.0, 0.0, 0.0], 20),   # copy of 0, OTHER shard → keep
        (3, [0.0, 1.0, 0.0, 0.0], 20),
        (4, [0.0, 4.0, 0.0, 0.0], 20),   # copy of 3, same shard → drop
        (5, [1.0, 0.0, 0.0, 0.0], None),  # NULL shard → excluded
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {
        r["vec_id"]: r
        for r in semdedup_sharded(
            df, shard_col="label", k_cells=2, tau=0.9, dims=4
        ).collect()
    }
    assert 5 not in out
    assert out[0]["keep"] == 1 and out[0]["shard"] == 10
    assert out[1]["dup_of"] == 0 and out[1]["keep"] == 0
    assert out[2]["keep"] == 1 and out[2]["shard"] == 20
    assert out[3]["keep"] == 1
    assert out[4]["dup_of"] == 3 and out[4]["keep"] == 0


def test_semdedup_sharded_oracle_parity(spark):
    """Round-12+ registration candidate (staged): hash-exact oracle
    parity at both fixture SFs, with a non-trivial per-shard verdict
    split and the plan free of cartesians."""
    from data_engineer_development_spark.queries.similarity import (
        _SEMDEDUP_SHARDED_SQL,
        q_semdedup_sharded,
    )
    from tests.conftest import SF_SMOKE
    from tests.oracle_harness import compare

    for sf_dir in (SF_SMOKE, SF_CORRECT):
        ok, msg = compare(
            spark, sf_dir, "semdedup_sharded",
            q_semdedup_sharded, _SEMDEDUP_SHARDED_SQL,
        )
        assert ok, f"{sf_dir}: {msg}"

    out = q_semdedup_sharded(spark, SF_CORRECT)
    assert out.filter("keep = 0").count() > 0
    assert out.select("shard").distinct().count() == 10
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_semdedup_sharded_equals_per_shard_one_shot(spark):
    """Composition invariant: semdedup_sharded(df) must equal the union
    of semdedup(df.filter(shard == s)) over shards — same codebooks, same
    cells, same verdicts — at train_iters=0 AND with per-shard Lloyd
    training (training a shard in the sharded op equals training the
    one-shot on that shard alone). Checked on the fixture (10 shards)."""
    from data_engineer_development_spark.operators.similarity import (
        semdedup,
        semdedup_sharded,
    )
    from data_engineer_development_spark.sources import load_table

    vecs = load_table(spark, SF_CORRECT, "embeddings")
    for iters in (0, 2):
        got = {
            r["vec_id"]: (r["shard"], r["cell"], r["dup_of"], r["keep"])
            for r in semdedup_sharded(
                vecs, shard_col="label", k_cells=8, tau=0.4, dims=64,
                train_iters=iters,
            ).collect()
        }
        exp = {}
        for s in range(10):
            for r in semdedup(
                vecs.filter(F.col("label") == s), k_cells=8, tau=0.4,
                dims=64, train_iters=iters,
            ).collect():
                exp[r["vec_id"]] = (s, r["cell"], r["dup_of"], r["keep"])
        assert got == exp, f"train_iters={iters}"


def test_dedup_modality_overlap_oracle_parity(spark):
    """Round-12+ registration candidate (staged): hash-exact parity at
    both fixture SFs, counts internally consistent, and the result
    non-degenerate in BOTH directions (some pairs only one modality
    sees — the fact the entry exists to measure)."""
    from data_engineer_development_spark.queries.similarity import (
        _modality_overlap_sql,
        q_dedup_modality_overlap,
    )
    from tests.conftest import SF_SMOKE
    from tests.oracle_harness import compare

    sql = _modality_overlap_sql()
    for sf_dir in (SF_SMOKE, SF_CORRECT):
        ok, msg = compare(
            spark, sf_dir, "dedup_modality_overlap",
            q_dedup_modality_overlap, sql,
        )
        assert ok, f"{sf_dir}: {msg}"

    r = q_dedup_modality_overlap(spark, SF_CORRECT).collect()[0]
    assert r["n_lex"] == r["n_both"] + r["n_lex_only"]
    assert r["n_sem"] == r["n_both"] + r["n_sem_only"]
    assert r["n_lex_only"] > 0 and r["n_sem_only"] > 0, r


def test_semdedup_sharded_matches_pure_python_mirror(spark):
    """Randomized sharded corpora (sparse ids, NULL shards, zero vectors,
    off-width vectors) against a per-shard python mirror of the spec:
    per-shard K-lowest-id seed → argmax (s DESC, cent_id ASC) → greedy
    per (shard, cell). Exact equality — identical IEEE op chain."""
    import math

    import numpy as np

    DIMS, K, TAU = 4, 2, 0.6

    def quant(vec):
        v = np.array([float(np.float32(x)) for x in vec], dtype=np.float64)
        mx = float(np.abs(v).max()) if len(v) else 0.0
        if mx == 0.0:
            return np.zeros(len(v), dtype=np.int64)
        return np.floor(v * 127.0 / mx + 0.5).astype(np.int64)

    def score(qa, qb):
        return float(int(qa @ qb)) / math.sqrt(
            float(int(qa @ qa) * int(qb @ qb))
        )

    def mirror(rows):
        usable = {}
        for vid, vec, shard in rows:
            if shard is None or len(vec) != DIMS:
                continue
            qv = quant(vec)
            if int(qv @ qv) > 0:
                usable[vid] = (shard, qv)
        out = {}
        for shard in sorted({s for s, _ in usable.values()}):
            ids = sorted(v for v, (s, _) in usable.items() if s == shard)
            cb = [(v, usable[v][1]) for v in ids[:K]]
            a = {
                v: max(cb, key=lambda c: (score(usable[v][1], c[1]), -c[0]))[0]
                for v in ids
            }
            for v in ids:
                dup = None
                for o in ids:
                    if o >= v or a[o] != a[v]:
                        continue
                    if score(usable[o][1], usable[v][1]) >= TAU:
                        dup = o
                        break
                out[v] = (shard, a[v], dup, 0 if dup is not None else 1)
        return out

    from data_engineer_development_spark.operators.similarity import (
        semdedup_sharded,
    )

    for seed in (11, 12, 13):
        rng = np.random.RandomState(seed)
        rows = []
        for i in range(40):
            vid = int(rng.randint(10_000, 1_000_000))
            shard = (
                None if rng.rand() < 0.1 else int(rng.randint(0, 3) * 7)
            )
            if rng.rand() < 0.08:
                vec = [0.0] * DIMS
            elif rng.rand() < 0.08:
                vec = [float(x) for x in rng.randn(DIMS + 1)]
            else:
                vec = [float(np.float32(x)) for x in rng.randn(DIMS)]
            rows.append((vid, vec, shard))
        rows = list({r[0]: r for r in rows}.values())  # unique ids
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        )
        got = {
            r["vec_id"]: (r["shard"], r["cell"], r["dup_of"], r["keep"])
            for r in semdedup_sharded(
                df, shard_col="label", k_cells=K, tau=TAU, dims=DIMS
            ).collect()
        }
        assert got == mirror(rows), f"seed {seed}"


def test_semdedup_incremental_strict_catches_reembedded_overlap(spark):
    """VERDICT r11 #5: the zero-cost kernel guard only sees an overlap
    whose vector is byte-identical (same cell twice); a RE-EMBEDDED
    overlapping id (vector changed → different cell) passes it unseen.
    strict=True anti-joins the id sets up front and must fail loudly on
    exactly that crafted case."""
    import pytest

    from data_engineer_development_spark.operators.similarity import (
        semdedup_incremental,
    )

    base = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (4, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    # id 4 re-embedded on the new side: orthogonal to its base vector,
    # so it seeds/lands in a different cell — the kernel guard is blind
    new = spark.createDataFrame(
        [(4, [0.0, 0.0, 1.0, 0.0]), (5, [0.0, 0.0, 0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="strict.*disjoint|disjoint"):
        semdedup_incremental(
            base, new, k_cells=2, tau=0.9, dims=4, strict=True
        )
    # the documented gap, pinned: the default path emits verdicts for
    # this same input without noticing (id 4 keeps — different cells)
    got = {
        r["vec_id"]: r["keep"]
        for r in semdedup_incremental(
            base, new, k_cells=2, tau=0.9, dims=4
        ).collect()
    }
    assert set(got) == {4, 5}


def test_semdedup_incremental_strict_passes_on_disjoint_sides(spark):
    """strict=True on genuinely disjoint sides costs one extra job and
    changes nothing: verdicts equal the default path's."""
    from data_engineer_development_spark.operators.similarity import (
        semdedup_incremental,
    )

    base = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    new = spark.createDataFrame(
        [(1, [2.0, 0.0, 0.0, 0.0]), (5, [0.0, 0.0, 1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    kw = dict(k_cells=2, tau=0.9, dims=4, train_iters=0)
    want = {
        r["vec_id"]: (r["dup_of"], r["keep"])
        for r in semdedup_incremental(base, new, **kw).collect()
    }
    got = {
        r["vec_id"]: (r["dup_of"], r["keep"])
        for r in semdedup_incremental(base, new, strict=True, **kw).collect()
    }
    assert got == want == {1: (0, 0), 5: (None, 1)}


def test_semdedup_sharded_seed_fetch_keys_on_shard_and_id(spark):
    """ADVICE r11: the seed-row fetch joins on (shard, id), not id alone —
    an id that exists in TWO shards (globally-duplicate ids) must not
    inject the other shard's row as an extra centroid. Shard 20's seed
    set here is its own K-lowest (ids 2, 3); id 2 also living in shard
    10 (beyond shard 10's K=1 seed rank) must neither join shard 10's
    codebook nor duplicate inside shard 20's."""
    from data_engineer_development_spark.operators.similarity import (
        semdedup_sharded,
    )

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 10),
        (2, [0.0, 1.0, 0.0, 0.0], 10),   # same id as a shard-20 row
        (2, [0.0, 0.0, 1.0, 0.0], 20),
        (3, [0.0, 0.0, 0.0, 1.0], 20),
        (9, [0.0, 0.0, 2.0, 0.0], 20),   # copy of shard-20's id 2 → drop
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = semdedup_sharded(
        df, shard_col="label", k_cells=2, tau=0.9, dims=4
    ).collect()
    got = {(r["shard"], r["vec_id"]): (r["dup_of"], r["keep"]) for r in out}
    # every row verdicts independently per shard; shard 20's id 9 drops
    # against ITS shard's id 2 (the [0,0,1,0] one), proving the fetched
    # seed vector was shard 20's own row, not shard 10's same-id row
    assert got[(10, 0)] == (None, 1)
    assert got[(10, 2)] == (None, 1)
    assert got[(20, 2)] == (None, 1)
    assert got[(20, 3)] == (None, 1)
    assert got[(20, 9)] == (2, 0)


def test_semdedup_sharded_rejects_duplicate_ids_within_shard(spark):
    """Review r12: a duplicated id INSIDE one shard's seed zone would
    fetch both payload rows through the (shard, id) equi-join and
    silently grow the codebook past k_cells with two same-id centroids
    — must fail loudly instead."""
    import pytest

    from data_engineer_development_spark.operators.similarity import (
        semdedup_sharded,
    )

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 10),
        (0, [0.0, 1.0, 0.0, 0.0], 10),   # duplicate id, same shard
        (3, [0.0, 0.0, 1.0, 0.0], 10),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    with pytest.raises(ValueError, match="duplicate ids within a shard"):
        semdedup_sharded(df, shard_col="label", k_cells=2, tau=0.9, dims=4)


def _sql_quantized(df, vec_col="embedding"):
    """The Spark-SQL reference for ``_with_quantized``: the max-abs grid
    as higher-order functions, under non-ANSI cast semantics (NaN → 0,
    ±inf saturates to the bigint bounds, bigint products wrap) that the
    numpy quantizer mimics."""
    return (
        df.withColumn("__mx", F.expr(
            f"aggregate(transform({vec_col}, x -> abs(cast(x as double))),"
            " cast(0.0 as double), (a, x) -> greatest(a, x))"))
        .withColumn("qv", F.expr(
            f"transform({vec_col}, x -> cast(if(__mx = 0.0d, 0.0d,"
            " floor(cast(x as double) * 127.0d / __mx + 0.5d)) as bigint))"))
        .withColumn("qn", F.expr(
            "aggregate(transform(qv, x -> x * x),"
            " cast(0 as bigint), (a, x) -> a + x)"))
        .drop("__mx")
    )


def test_numpy_quantizer_equals_jvm(spark):
    """r18 optimization pin (guide §4.2/§4.4): the Arrow/numpy
    ``_with_quantized`` must reproduce the Spark-SQL HOF formulation
    BIT-FOR-BIT — same max-abs grid (element-wise IEEE double ops in the
    same order), same int64 self-dot, same NULL-array/NULL-element/
    empty-array/zero-norm/off-width handling — on a corpus that
    exercises every edge the fixtures and oracles can reach, plus doubles
    so large that x·127 overflows to inf (the cast then saturates)."""
    from data_engineer_development_spark.operators.similarity import (
        _with_quantized,
    )

    floats = [
        (0, [1.0, -2.5, 3.25, 0.125]),          # plain
        (1, [0.0, 0.0, 0.0, 0.0]),              # zero-norm → qn 0
        (2, [1e-30, -1e-30, 1e-30, -1e-30]),    # tiny mx (rounding stress)
        (3, [1e30, -1e30, 0.5, -0.25]),         # huge mx
        (4, [7.0]),                             # short row (width group 1)
        (5, [0.3] * 9),                          # width group 9
        (6, None),                               # NULL array → NULL qv/qn
        (7, []),                                 # empty array → qv [], qn 0
        (8, [-0.1, 0.1, -0.1, 0.1]),             # sign symmetry
        (9, [0.7000001, -0.6999999, 0.35, 0.0]), # near-tie magnitudes
        (12, [1.0, None, 0.5, 0.0]),             # NULL element → NULL qn
        (13, [None, 0.0, 0.0]),                  # NULL element, mx 0 → qn 0
        (14, [float("nan"), None, 1.0]),         # NaN and NULL elements
    ]
    doubles = [
        (10, [1e307, -1e307, 1.0, 0.0]),        # x·127 overflows to ±inf
        (11, [1.0, -2.5, 3.25, 0.125]),
    ]

    def grab(df):
        return {
            r["vec_id"]: (
                None if r["qv"] is None else tuple(r["qv"]),
                r["qn"],
            )
            for r in df.collect()
        }

    from data_engineer_development_spark.sources import load_table

    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        for rows, typ in ((floats, "float"), (doubles, "double")):
            df = spark.createDataFrame(
                rows, f"vec_id long, embedding array<{typ}>"
            )
            assert grab(
                _with_quantized(df, "vec_id", "embedding")
            ) == grab(_sql_quantized(df))

        # the fixture corpus end-to-end, bit-for-bit
        vecs = load_table(spark, SF_CORRECT, "embeddings").select(
            "vec_id", "embedding"
        )
        assert grab(
            _with_quantized(vecs, "vec_id", "embedding")
        ) == grab(_sql_quantized(vecs))
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
