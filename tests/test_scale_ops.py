"""Scale-pattern operators: salted aggregation ≡ plain aggregation,
bin-bucketed range join plan shape, bucketed co-located joins, stateful
streaming totals ≡ batch totals."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_engineer_development_spark.operators.joins import salted_agg
from data_engineer_development_spark.sources import load_table
from tests.conftest import SF_CORRECT, fresh_db


def test_salted_agg_equals_plain(spark):
    li = load_table(spark, SF_CORRECT, "lineitem")
    aggs = [
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("l_quantity").cast("decimal(20,4)")).alias("sum_qty"),
        F.max("l_extendedprice").alias("max_price"),
        F.min("l_shipdate").alias("min_ship"),
    ]
    plain = li.groupBy("l_returnflag").agg(*aggs)
    salted = salted_agg(li, ["l_returnflag"], aggs, salt_buckets=8)

    def rows(df):
        return sorted(
            (r["l_returnflag"], r["n_items"], r["sum_qty"], r["max_price"], r["min_ship"])
            for r in df.collect()
        )

    assert rows(plain) == rows(salted)


def test_salted_agg_rejects_unknown_merge(spark):
    import pytest

    li = load_table(spark, SF_CORRECT, "lineitem")
    with pytest.raises(ValueError, match="alias"):
        salted_agg(li, ["l_returnflag"], [F.avg("l_quantity").alias("avg_qty")])


def test_salted_agg_rejects_distinct(spark):
    import pytest

    li = load_table(spark, SF_CORRECT, "lineitem")
    # count(DISTINCT x) parses as count and would silently over-count when
    # the same value lands in several salt buckets — must be refused
    with pytest.raises(ValueError, match="DISTINCT"):
        salted_agg(
            li, ["l_returnflag"],
            [F.count_distinct(F.col("l_partkey")).alias("n_parts")],
        )
    with pytest.raises(ValueError, match="DISTINCT"):
        salted_agg(
            li, ["l_returnflag"],
            [F.sum_distinct(F.col("l_quantity")).alias("sum_qty")],
        )


def test_range_join_is_equijoin_plan(spark):
    from data_engineer_development_spark.queries import all_queries

    df = all_queries()["range_join_promos"](spark, SF_CORRECT)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_bucketed_join_avoids_shuffle(spark):
    # co-located join: both sides bucketed by the join key → zero Exchange
    fresh_db(spark, "t_buck")
    orders = load_table(spark, SF_CORRECT, "orders")
    customer = load_table(spark, SF_CORRECT, "customer")
    (orders.write.mode("overwrite").bucketBy(8, "o_custkey")
     .sortBy("o_custkey").saveAsTable("t_buck.orders_b"))
    (customer.write.mode("overwrite").bucketBy(8, "c_custkey")
     .sortBy("c_custkey").saveAsTable("t_buck.customer_b"))

    ob, cb = spark.table("t_buck.orders_b"), spark.table("t_buck.customer_b")
    joined = ob.join(
        cb.hint("merge"), ob.o_custkey == cb.c_custkey
    ).select("o_orderkey", "c_name")
    plan = joined._sc._jvm.PythonSQLUtils.explainString(
        joined._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan, plan
    assert joined.count() > 0


def test_stateful_running_totals_match_batch(spark):
    from data_engineer_development_spark.streaming import stream_events
    from data_engineer_development_spark.streaming.stateful import (
        running_user_totals,
    )
    from data_engineer_development_spark.streaming.windows import (
        run_to_memory_sink,
    )

    stream = running_user_totals(stream_events(spark, SF_CORRECT))
    assert stream.isStreaming
    run_to_memory_sink(stream, "s_state", output_mode="update")

    got = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 6))
        for r in spark.table("s_state").collect()
    }
    batch = {
        r["user_id"]: (r["n"], round(r["t"], 6))
        for r in load_table(spark, SF_CORRECT, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("t"))
        .collect()
    }
    assert got == batch


def test_all_pairs_scorers_refuse_past_broadcast_ceiling(spark, monkeypatch):
    # both all-pairs scorers collect the index side to the driver: past
    # MAX_BROADCAST_ROWS they must raise, never broadcast the matrix
    import pytest

    from data_engineer_development_spark.operators import similarity

    monkeypatch.setattr(similarity, "MAX_BROADCAST_ROWS", 10)
    vecs = load_table(spark, SF_CORRECT, "embeddings").limit(200)
    for fn in (similarity.neardup_pairs_cosine, similarity.quantized_neardup_pairs):
        with pytest.raises(ValueError, match="ceiling"):
            fn(vecs, 0.9)


def test_shingles_short_docs_are_empty(spark):
    # docs with <k tokens must yield an empty shingle set (DuckDB
    # generate_series(1,0) dual), not raise on a descending sequence
    from data_engineer_development_spark.operators.text import (
        shingles_expr,
        tokens,
    )

    df = (
        spark.createDataFrame([("a b",), ("a b c",), ("a b c d",)], "text string")
        .select(tokens("text").alias("t"))
        .select(F.size(shingles_expr("t", 3)).alias("n"))
    )
    assert [r["n"] for r in df.collect()] == [0, 1, 2]


def test_runtime_bloom_filter_prunes_shuffle_join(spark):
    # The 100 TB fact⋈fact case: neither side broadcasts, but the selective
    # filter on one side should still prune the other side's shuffle via an
    # injected runtime bloom filter (Spark's InjectRuntimeFilter). At test
    # scale the app-side threshold is lowered to let the rule fire; the
    # creation-side selectivity logic is the real one.
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = load_table(spark, SF_CORRECT, "lineitem")
        o = load_table(spark, SF_CORRECT, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._sc._jvm.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "formatted"
        )
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
        [row] = j.collect()  # and it still computes the right count
        assert row["count"] > 0
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_shingle_overlap_scorers_match_bruteforce(spark):
    """The three scorers over the one md5-keyed posting join —
    ``jaccard_pairs`` (self), ``jaccard_cross_pairs`` (bipartite) and
    ``containment_pairs`` — must equal a brute-force Python computation
    over the raw shingle sets: the hashed join key loses no pair and
    merges no shingles, and every score is the exact int/int division."""
    from data_engineer_development_spark.operators.dedup import (
        containment_pairs,
        jaccard_cross_pairs,
        jaccard_pairs,
    )
    from data_engineer_development_spark.queries.dedup import (
        _docs_with_shingles,
    )

    docs = _docs_with_shingles(
        load_table(spark, SF_CORRECT, "documents").filter(F.col("doc_id") < 200)
    )
    sets = {r["doc_id"]: set(r["sh"]) for r in docs.collect()}
    ids = sorted(sets)

    def brute(score, tau, pairs):
        out = {}
        for i, j in pairs:
            a, b = sets[i], sets[j]
            c = len(a & b)
            if c and (v := score(c, len(a), len(b))) >= tau:
                out[(i, j)] = v
        return out

    def jac(c, n1, n2):
        return c / (n1 + n2 - c)

    def scored(pairs_df):
        return {(r[0], r[1]): r[2] for r in pairs_df.collect()}

    def cont(c, n1, n2):
        return c / min(n1, n2)

    self_pairs = [(i, j) for i in ids for j in ids if i < j]
    got = scored(jaccard_pairs(docs, "doc_id", "sh", 0.1))
    assert got == brute(jac, 0.1, self_pairs) and got
    got = scored(containment_pairs(docs, "doc_id", "sh", 0.4))
    assert got == brute(cont, 0.4, self_pairs) and got

    left = docs.filter(F.col("doc_id") % 2 == 0)
    right = docs.filter(F.col("doc_id") % 2 == 1)
    got = scored(jaccard_cross_pairs(left, right, "doc_id", "sh", 0.1))
    cross = [(i, j) for i in ids if i % 2 == 0 for j in ids if j % 2 == 1]
    assert got == brute(jac, 0.1, cross) and got


def test_salted_join_plan_and_equivalence(spark):
    """salted_join must (a) actually salt the shuffle — a sort-merge join
    whose keys include __salt — and (b) be value-identical to the plain
    join (the oracle entry re-checks this against DuckDB)."""
    from data_engineer_development_spark.operators.joins import salted_join

    orders = load_table(spark, SF_CORRECT, "orders")
    cust = load_table(spark, SF_CORRECT, "customer")
    joined = salted_join(
        orders, cust, "o_custkey", "c_custkey",
        row_salt=F.xxhash64("o_orderkey"), salt_buckets=4,
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan[:2000]
    assert "__salt" in plan, plan[:2000]
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan

    plain = orders.join(cust, orders.o_custkey == cust.c_custkey)
    assert joined.count() == plain.count()
    key_sum = joined.agg(F.sum("o_orderkey")).collect()[0][0]
    assert key_sum == plain.agg(F.sum("o_orderkey")).collect()[0][0]


def test_containment_flags_subset_doc(spark):
    """A document whose shingles are a strict subset of a longer one must
    get containment 1.0 even though its Jaccard vs the superset is low."""
    from data_engineer_development_spark.operators.dedup import (
        containment_pairs,
        jaccard_pairs,
    )
    from data_engineer_development_spark.operators.text import shingles_expr

    long_text = " ".join(f"w{i}" for i in range(40))
    short_text = " ".join(f"w{i}" for i in range(10))  # strict prefix
    other = " ".join(f"z{i}" for i in range(40))
    df = (
        spark.createDataFrame(
            [(1, long_text), (2, short_text), (3, other)], "doc_id long, text string"
        )
        .withColumn("t", F.split("text", " "))
        .withColumn("sh", shingles_expr("t", k=3))
    )
    cont = {
        (r["id1"], r["id2"]): r["containment"]
        for r in containment_pairs(df, "doc_id", "sh", tau=0.5).collect()
    }
    assert cont == {(1, 2): 1.0}
    # Jaccard of (1,2) = 8/38 ≈ 0.21 — below any sensible dup threshold:
    jac = {
        (r["id1"], r["id2"]): r["jaccard"]
        for r in jaccard_pairs(df, "doc_id", "sh", tau=0.0).collect()
    }
    assert jac[(1, 2)] < 0.25


def test_dpp_partition_join_prunes_at_runtime(spark, tmp_path):
    """The partitioned-fact join must carry a dynamic-partition-pruning
    filter on the partition column — the runtime file-skip that makes
    category-partitioned layouts pay off at scale."""
    from data_engineer_development_spark.sources import load_table

    orders = load_table(spark, SF_CORRECT, "orders")
    cust = load_table(spark, SF_CORRECT, "customer")
    out = str(tmp_path / "dpp")
    orders.write.partitionBy("o_orderpriority").mode("overwrite").parquet(out)
    fact = spark.read.parquet(out)
    dim = (
        cust.select("c_custkey", "c_mktsegment")
        .join(
            spark.createDataFrame([("1-URGENT",), ("2-HIGH",)], "p string"),
            how="cross",
        )
        .select("c_custkey", F.col("p").alias("d_priority"), "c_mktsegment")
        .filter(F.col("c_mktsegment") == "BUILDING")
    )
    joined = fact.join(
        dim,
        (fact["o_custkey"] == dim["c_custkey"])
        & (fact["o_orderpriority"] == dim["d_priority"]),
    )
    plan = (
        joined.groupBy("o_orderpriority")
        .count()
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_asof_join_null_payload_and_atomicity(spark):
    """The as-of fill must attach the MATCHED right row's payload atomically:
    a genuine NULL in one payload column stays NULL (no older value leaking
    through), and a left row can never get a torn mix of fields from two
    different right rows. Regression for the per-column ignorenulls fill."""
    from data_engineer_development_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [("u1", 10), ("u1", 25)], "k string, t int"
    )
    # at t=20 the price is NULL but the qty is 9; at t=5 both are set.
    right = spark.createDataFrame(
        [("u1", 5, 100.0, 7), ("u1", 20, None, 9)],
        "k string, rt int, price double, qty int",
    )
    out = {
        r["t"]: (r["price"], r["qty"])
        for r in asof_join(
            left, right, key="k", left_time="t", right_time="rt",
            right_payload=["price", "qty"],
        ).collect()
    }
    assert out[10] == (100.0, 7)
    # matched row is (rt=20): price must be its NULL, qty its 9 — NOT the
    # torn (100.0, 9) the independent per-column fill would produce
    assert out[25] == (None, 9)


def test_asof_join_no_match_stays_null(spark):
    from data_engineer_development_spark.operators.joins import asof_join

    left = spark.createDataFrame([("u2", 3)], "k string, t int")
    right = spark.createDataFrame(
        [("u2", 8, 1.0)], "k string, rt int, price double"
    )
    rows = asof_join(
        left, right, key="k", left_time="t", right_time="rt",
        right_payload=["price"],
    ).collect()
    assert len(rows) == 1 and rows[0]["price"] is None


def test_neardup_pairs_excludes_zero_norm_both_paths(spark):
    """A zero-norm vector's cosine is 0/0 = NaN, and the three backends
    disagree on NaN >= tau (numpy: false; Spark SQL / DuckDB: NaN compares
    greater than everything) — so both all-pairs scorers (float and
    quantized cosine) must exclude zero-norm vectors."""
    from data_engineer_development_spark.operators.similarity import (
        neardup_pairs_cosine,
        quantized_neardup_pairs,
    )

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 0.0, 0.0]),  # zero-norm: must never appear in pairs
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for fn in (neardup_pairs_cosine, quantized_neardup_pairs):
        got = sorted(
            (r["id1"], r["id2"]) for r in fn(vecs, tau=0.5).collect()
        )
        assert got == [(1, 2)], f"{fn.__name__}: {got}"


def test_neardup_pairs_empty_and_all_zero_corpus(spark):
    """ADVICE r9: the exact path's np.vstack([]) crashed on an empty (or
    all-zero-norm) corpus — it must return an empty result with the
    contract schema instead, on both kernels."""
    from data_engineer_development_spark.operators.similarity import (
        neardup_pairs_cosine,
        quantized_neardup_pairs,
    )

    all_zero = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    empty = all_zero.filter("vec_id < 0")
    for vecs in (all_zero, empty):
        got = neardup_pairs_cosine(vecs, tau=0.5)
        assert got.columns == ["id1", "id2", "cosine"]
        assert got.count() == 0
        got_q = quantized_neardup_pairs(vecs, tau=0.5)
        assert got_q.columns == ["id1", "id2"]
        assert got_q.count() == 0


def test_quantized_denominator_is_sqrt_of_product(spark):
    """ADVICE r9 (medium): the kernel must divide by sqrt(qn_a*qn_b) — ONE
    sqrt over the exact integer product, the oracle's expression — not by
    sqrt(qn_a)*sqrt(qn_b), which differs by 1 ulp for ~a third of integer
    pairs. Pin a pair where the two expressions straddle tau: the pair is
    kept under sqrt-of-product iff the kernel matches the oracle."""
    import math

    import numpy as np

    from data_engineer_development_spark.operators.similarity import (
        quantized_neardup_pairs,
    )

    # search the int8 grid for a (dot, qn_a, qn_b) whose cosine differs
    # across the two denominator forms, then build 2-dim vectors realizing
    # it is hard; instead pin the numerically-verifiable contract on a
    # real corpus: every emitted pair must satisfy the oracle's form.
    rng = np.random.RandomState(7)
    rows = [
        (i, [float(x) for x in rng.randint(-5, 6, size=8)]) for i in range(40)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    tau = 0.4
    got = {(r["id1"], r["id2"]) for r in quantized_neardup_pairs(vecs, tau).collect()}

    # independent scalar reference: int64 dot / sqrt(int64 product)
    def quant(v):
        v = np.asarray(v, dtype=np.float64)
        mx = np.abs(v).max()
        if mx == 0.0:
            return np.zeros(len(v), dtype=np.int64)
        return np.floor(v * 127.0 / mx + 0.5).astype(np.int64)

    qvs = {i: quant(v) for i, v in rows}
    expect = set()
    for i in range(40):
        for j in range(i + 1, 40):
            qa, qb = qvs[i], qvs[j]
            na, nb = int(qa @ qa), int(qb @ qb)
            if na == 0 or nb == 0:
                continue
            cos = float(int(qa @ qb)) / math.sqrt(float(na * nb))
            if cos >= tau:
                expect.add((i, j))
    assert got == expect


def test_running_totals_units_guard_raises_loudly(spark):
    """ADVICE r9: an out-of-range value must FAIL (raise_error) instead of
    silently NULL-ing out of the totals via non-ANSI cast overflow."""
    import pytest
    from pyspark.sql import functions as F

    from data_engineer_development_spark.streaming.stateful import UNITS_EXPR

    ok = spark.createDataFrame(
        [(1, 12.3456), (2, None), (3, -56294995342.13)],
        "user_id long, value double",
    ).select(F.expr(UNITS_EXPR).alias("u")).collect()
    assert [r["u"] for r in ok] == [123456, None, -562949953421300]

    bad = spark.createDataFrame(
        [(1, 5.7e14)], "user_id long, value double"
    ).select(F.expr(UNITS_EXPR).alias("u"))
    with pytest.raises(Exception, match="micro-units"):
        bad.collect()


def test_ivf_multiprobe_recall_dominates_single_probe(spark):
    """nprobe=2 must recover AT LEAST every true neighbor the 1-probe
    answer recovers (probing a superset of cells can only add candidates)
    and, on the fixture, strictly more — the measured point of the
    recall/cost dial (sf0.1: recall@5 0.400 -> 0.533)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_engineer_development_spark.operators.similarity import (
        norm_expr,
        seq_dot,
    )
    from data_engineer_development_spark.queries.extras import (
        _IVF_QUERY_IDS,
        _IVF_TOPK,
        q_sim_ivf_multiprobe,
        q_sim_ivf_topk,
    )
    from data_engineer_development_spark.sources import load_table

    vecs = load_table(spark, SF_CORRECT, "embeddings")
    q = vecs.filter(F.col("vec_id").isin(_IVF_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        norm_expr("embedding").alias("qn"),
    )
    bf = (
        vecs.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("nv"),
            norm_expr("embedding").alias("nn"),
        )
        .crossJoin(F.broadcast(q))
        .filter("neighbor_id != query_id")
        .withColumn("cosine", seq_dot("qv", "nv") / (F.col("qn") * F.col("nn")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in bf.withColumn("rk", F.row_number().over(w))
        .filter(f"rk <= {_IVF_TOPK}")
        .collect()
    }
    one = {
        (r["query_id"], r["neighbor_id"])
        for r in q_sim_ivf_topk(spark, SF_CORRECT).collect()
    }
    multi = {
        (r["query_id"], r["neighbor_id"])
        for r in q_sim_ivf_multiprobe(spark, SF_CORRECT).collect()
    }
    assert truth & one <= truth & multi
    assert len(truth & multi) > len(truth & one)


def test_retrieval_mrr_eval_oracle_parity(spark):
    """Round-11 registration candidate (see queries/extras.py): the
    rank-sensitive MRR@k eval of the multiprobe IVF answer must already
    hold hash-exact oracle parity at both fixture SFs, and its mrr must
    be consistent with its own first_hit_rank."""
    from data_engineer_development_spark.queries.extras import (
        _RETRIEVAL_MRR_SQL,
        q_retrieval_mrr_eval,
    )
    from tests.conftest import SF_SMOKE
    from tests.oracle_harness import compare

    for sf_dir in (SF_SMOKE, SF_CORRECT):
        ok, msg = compare(
            spark, sf_dir, "retrieval_mrr_eval",
            q_retrieval_mrr_eval, _RETRIEVAL_MRR_SQL,
        )
        assert ok, f"{sf_dir}: {msg}"

    rows = q_retrieval_mrr_eval(spark, SF_CORRECT).collect()
    assert len(rows) == 3  # the 3 probe queries
    for r in rows:
        if r["first_hit_rank"] is None:
            assert r["mrr"] == 0.0
        else:
            assert r["mrr"] == 1.0 / r["first_hit_rank"]


def test_tokenizer_fertility_oracle_parity(spark):
    """Round-11+ registration candidate: per-language tokenizer fertility
    (chars-per-token from exact bigint sums) must hold hash-exact oracle
    parity at both fixture SFs, and the division must be consistent with
    its own integer sums."""
    from data_engineer_development_spark.queries.extras import (
        _TOKENIZER_FERTILITY_SQL,
        q_tokenizer_fertility,
    )
    from tests.conftest import SF_SMOKE
    from tests.oracle_harness import compare

    for sf_dir in (SF_SMOKE, SF_CORRECT):
        ok, msg = compare(
            spark, sf_dir, "tokenizer_fertility",
            q_tokenizer_fertility, _TOKENIZER_FERTILITY_SQL,
        )
        assert ok, f"{sf_dir}: {msg}"

    rows = q_tokenizer_fertility(spark, SF_CORRECT).collect()
    assert rows  # fixture has at least one language
    for r in rows:
        assert r["sum_tokens"] > 0
        assert r["chars_per_token"] == r["sum_chars"] / r["sum_tokens"]


def test_quality_repetition_oracle_parity_and_crafted(spark):
    """Round-13+ registration candidate (staged, r12): Gopher-family
    intra-document n-gram repetition signals must hold hash-exact oracle
    parity at both fixture SFs and exercise BOTH keep branches there;
    crafted docs pin the metric definitions — a pure loop document is
    caught (top2_frac high: overlapping occurrences of the same 2-gram
    count individually), natural-ish text passes, and the most-common-
    gram tie-break is (count DESC, gram ASC)."""
    from data_engineer_development_spark.queries.quality_rules import (
        _QUALITY_REPETITION_SQL,
        q_quality_repetition,
    )
    from tests.conftest import SF_SMOKE
    from tests.oracle_harness import compare

    for sf_dir in (SF_SMOKE, SF_CORRECT):
        ok, msg = compare(
            spark, sf_dir, "quality_repetition",
            q_quality_repetition, _QUALITY_REPETITION_SQL,
        )
        assert ok, f"{sf_dir}: {msg}"
    kept = {
        r["keep_repetition"]
        for r in q_quality_repetition(spark, SF_CORRECT).collect()
    }
    assert kept == {True, False}  # thresholds split the fixture

    import pandas as pd

    from data_engineer_development_spark.operators import text as T
    from pyspark.sql import functions as F

    crafted = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                # 1: pure loop "x y x y x y x y" — top2 ('x y') occurs 4
                #    of 7 positions, every 3-gram repeats → drop
                "text": [
                    "x y x y x y x y",
                    # 2: all-distinct tokens — top2_count 1, dup3 0 → keep
                    "a b c d e f g h i j",
                    # 3: tie between ('a b') and ('b a') at count 2 →
                    #    lexicographic pick 'a b'
                    "a b a b a c d e f g h",
                ],
            }
        )
    )
    # same pipeline as the query builder, against the crafted frame
    import data_engineer_development_spark.queries.quality_rules as QR

    orig = QR.load_table
    try:
        QR.load_table = lambda s, d, t: crafted
        got = {r["doc_id"]: r for r in q_quality_repetition(spark, "x").collect()}
    finally:
        QR.load_table = orig
    assert got[1]["top2_gram"] == "x y" and got[1]["top2_count"] == 4
    assert got[1]["keep_repetition"] is False
    assert got[2]["top2_count"] == 1 and got[2]["dup3_frac"] == 0.0
    assert got[2]["keep_repetition"] is True
    assert got[3]["top2_gram"] == "a b" and got[3]["top2_count"] == 2


def test_split_leakage_audit_oracle_parity_and_consistency(spark):
    """Round-13+ registration candidate (staged, r12): the train/held-out
    leakage audit must hold hash-exact oracle parity at both fixture SFs,
    and its counts must be internally consistent — leaky clusters are a
    subset of multi-doc clusters, leaky pairs a subset of pairs, and a
    LEAKY PAIR FORCES a leaky cluster (both endpoints share a component
    by construction). The fixture result is non-trivial: a naive md5
    split leaks ~half the verified near-dup pairs, which is exactly the
    number this audit exists to surface before an eval is trusted."""
    from data_engineer_development_spark.queries.corpus_ops import (
        _split_leakage_sql,
        q_split_leakage_audit,
    )
    from tests.conftest import SF_SMOKE
    from tests.oracle_harness import compare

    sql = _split_leakage_sql()
    for sf_dir in (SF_SMOKE, SF_CORRECT):
        ok, msg = compare(
            spark, sf_dir, "split_leakage_audit",
            q_split_leakage_audit, sql,
        )
        assert ok, f"{sf_dir}: {msg}"
    r = q_split_leakage_audit(spark, SF_CORRECT).collect()[0]
    assert 0 < r["n_multi_doc_clusters"] <= r["n_clusters"]
    assert 0 <= r["n_leaky_clusters"] <= r["n_multi_doc_clusters"]
    assert 0 <= r["n_leaky_pairs"] <= r["n_pairs"]
    if r["n_leaky_pairs"]:
        assert r["n_leaky_clusters"] > 0
    assert r["leaky_pair_frac"] == r["n_leaky_pairs"] / r["n_pairs"]


def test_source_overlap_matrix_parity_and_invariants(spark):
    """Staged r14 candidate: the source-pair duplication heatmap. Parity
    at both fixture SFs; invariants — cells are unordered (src_a <=
    src_b), pair counts are conserved against the flat verified-pair
    count, and every rate sits in (0, 1]."""
    from pyspark.sql import functions as F

    from data_engineer_development_spark.operators import dedup as D
    from data_engineer_development_spark.operators.text import shingles_expr
    from data_engineer_development_spark.queries.corpus_ops import (
        _source_overlap_sql,
        q_source_overlap_matrix,
    )
    from data_engineer_development_spark.queries.dedup import JACCARD_TAU
    from data_engineer_development_spark.sources import load_table
    from tests.conftest import SF_SMOKE
    from tests.oracle_harness import compare

    for sf_dir in (SF_SMOKE, SF_CORRECT):
        ok, msg = compare(
            spark, sf_dir, "source_overlap_matrix",
            q_source_overlap_matrix, _source_overlap_sql(),
        )
        assert ok, f"{sf_dir}: {msg}"

    rows = q_source_overlap_matrix(spark, SF_CORRECT).collect()
    assert rows
    assert all(r["src_a"] <= r["src_b"] for r in rows)
    assert all(0.0 < r["pair_rate"] <= 1.0 for r in rows)
    docs = load_table(spark, SF_CORRECT, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("t")
    ).withColumn("sh", shingles_expr("t", k=3))
    n_flat = D.jaccard_pairs(docs, "doc_id", "sh", JACCARD_TAU).count()
    assert sum(r["n_pairs"] for r in rows) == n_flat  # conservation

def test_ngram_novelty_parity_and_conservation(spark):
    """Staged r14+ candidate: per-crawl-batch 5-gram novelty. Parity at
    both fixture SFs; invariants — batch 0 is all-new by definition,
    n_new never exceeds n_grams, the novelty division is exact, and the
    n_new column partitions the corpus vocabulary (conservation against
    an independent global distinct count). The fixture must make the
    metric non-trivial: at least one later batch with n_new < n_grams."""
    from pyspark.sql import functions as F

    from data_engineer_development_spark.operators.text import shingles_expr
    from data_engineer_development_spark.queries.corpus_ops import (
        _NGRAM_NOVELTY_SQL,
        _NOVELTY_K,
        q_ngram_novelty,
    )
    from data_engineer_development_spark.sources import load_table
    from tests.conftest import SF_SMOKE
    from tests.oracle_harness import compare

    for sf_dir in (SF_SMOKE, SF_CORRECT):
        ok, msg = compare(
            spark, sf_dir, "ngram_novelty", q_ngram_novelty,
            _NGRAM_NOVELTY_SQL,
        )
        assert ok, f"{sf_dir}: {msg}"

    rows = q_ngram_novelty(spark, SF_CORRECT).collect()
    assert rows and rows[0]["batch"] == 0 and rows[0]["novelty"] == 1.0
    for r in rows:
        # n_new == 0 is a VALID (and decision-relevant) value: a batch
        # that re-fetched only already-seen text must still be reported
        assert 0 <= r["n_new"] <= r["n_grams"]
        assert r["novelty"] == r["n_new"] / r["n_grams"]
    assert any(r["n_new"] < r["n_grams"] for r in rows[1:])
    vocab = (
        load_table(spark, SF_CORRECT, "documents")
        .select(F.split(F.col("text"), " ").alias("t"))
        .select(F.explode(shingles_expr("t", k=_NOVELTY_K)).alias("sg"))
        .distinct()
        .count()
    )
    assert sum(r["n_new"] for r in rows) == vocab  # partition of the vocab

    # crafted zero-novelty batch: a batch that re-fetches ONLY seen text
    # must be EMITTED with novelty 0.0 (the review r13 inner-join finding),
    # and the emission must be parity-exact in both engines
    import os
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="novelty_zero_")
    try:
        for t in ("region nation customer supplier part orders lineitem "
                  "events embeddings").split():
            os.symlink(f"{SF_SMOKE}/{t}.parquet", f"{tmp}/{t}.parquet")
        import pyarrow as pa
        import pyarrow.parquet as pq

        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([0, 125], pa.int64()),
                    "text": ["a b c d e f", "a b c d e"],
                    "lang": ["en", "en"],
                    "source": ["s0", "s0"],
                    "n_chars": pa.array([11, 9], pa.int64()),
                }
            ),
            f"{tmp}/documents.parquet",
        )
        ok, msg = compare(
            spark, tmp, "ngram_novelty", q_ngram_novelty, _NGRAM_NOVELTY_SQL
        )
        assert ok, msg
        crafted = {r["batch"]: r for r in q_ngram_novelty(spark, tmp).collect()}
        assert crafted[1]["n_new"] == 0 and crafted[1]["novelty"] == 0.0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_dedup_survivorship_parity_and_policy(spark):
    """Staged r14+ candidate: quality-policy cluster survivorship. Parity
    at both fixture SFs; invariants — one row per multi-doc cluster, the
    representative is the cluster's (n_chars DESC, doc_id ASC) argmax,
    dropped_chars closes the ledger, and the policy actually bites on the
    fixture (both rep_changed branches present)."""
    from data_engineer_development_spark.queries.corpus_ops import (
        _DEDUP_SURVIVORSHIP_SQL,
        q_dedup_clusters,
        q_dedup_survivorship,
    )
    from data_engineer_development_spark.sources import load_table
    from tests.conftest import SF_SMOKE
    from tests.oracle_harness import compare

    for sf_dir in (SF_SMOKE, SF_CORRECT):
        ok, msg = compare(
            spark, sf_dir, "dedup_survivorship", q_dedup_survivorship,
            _DEDUP_SURVIVORSHIP_SQL,
        )
        assert ok, f"{sf_dir}: {msg}"

    rows = q_dedup_survivorship(spark, SF_CORRECT).collect()
    labels = {
        r["doc_id"]: r["cluster_id"]
        for r in q_dedup_clusters(spark, SF_CORRECT).collect()
    }
    chars = {
        r["doc_id"]: r["n_chars"]
        for r in load_table(spark, SF_CORRECT, "documents")
        .select("doc_id", "n_chars")
        .collect()
    }
    from collections import defaultdict

    members = defaultdict(list)
    for d, c in labels.items():
        members[c].append(d)
    multi = {c for c, ds in members.items() if len(ds) > 1}
    assert {r["cluster_id"] for r in rows} == multi
    for r in rows:
        ds = members[r["cluster_id"]]
        assert r["n_members"] == len(ds)
        best = min((-chars[d], d) for d in ds)
        assert (r["rep_doc"], r["rep_chars"]) == (best[1], -best[0])
        assert r["dropped_chars"] == sum(chars[d] for d in ds) - r["rep_chars"]
        assert r["rep_changed"] == (r["rep_doc"] != r["cluster_id"])
    assert any(r["rep_changed"] for r in rows)  # the policy bites...
    assert not all(r["rep_changed"] for r in rows)  # ...but not always

def test_decontam_span_removal_parity_and_ledger(spark):
    """Staged r14+ candidate: surgical span-level decontamination. Parity
    at both fixture SFs (cleaned_text is compared as a STRING — the
    strongest cross-engine check); invariants — output docs are exactly
    the train-side docs sharing at least one 5-gram with the eval split
    (agreement with the registered contamination semantics), the token
    ledger closes (survivors = n_tokens − n_removed), and removal is
    always partial-or-full but never empty."""
    from pyspark.sql import functions as F

    from data_engineer_development_spark.functions.portable_hash import (
        spark_md5_int,
    )
    from data_engineer_development_spark.operators.text import shingles_expr
    from data_engineer_development_spark.queries.corpus_ops import (
        _CONTAM_K,
        _DECONTAM_SQL,
        q_decontam_span_removal,
    )
    from data_engineer_development_spark.sources import load_table
    from tests.conftest import SF_SMOKE
    from tests.oracle_harness import compare

    for sf_dir in (SF_SMOKE, SF_CORRECT):
        ok, msg = compare(
            spark, sf_dir, "decontam_span_removal",
            q_decontam_span_removal, _DECONTAM_SQL,
        )
        assert ok, f"{sf_dir}: {msg}"

    rows = q_decontam_span_removal(spark, SF_CORRECT).collect()
    assert rows
    for r in rows:
        assert 0 < r["n_removed"] <= r["n_tokens"]
        survivors = r["cleaned_text"].split(" ") if r["cleaned_text"] else []
        assert len(survivors) == r["n_tokens"] - r["n_removed"]

    # the flagged set == train docs whose 5-grams intersect eval grams
    d = (
        load_table(spark, SF_CORRECT, "documents")
        .select("doc_id", F.split(F.col("text"), " ").alias("t"))
        .withColumn(
            "side", F.expr(f"{spark_md5_int('cast(doc_id as string)')} % 2")
        )
        .withColumn("sh", shingles_expr("t", k=_CONTAM_K))
    )
    posts = d.select("doc_id", "side", F.explode("sh").alias("sg"))
    ev = posts.filter(F.col("side") == 1).select("sg").distinct()
    want = {
        r["doc_id"]
        for r in posts.filter(F.col("side") == 0)
        .join(ev, "sg")
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert {r["doc_id"] for r in rows} == want

def test_tokenizer_vocab_curve_parity_and_monotonicity(spark):
    """Staged r14+ candidate: corpus-level OOV-vs-vocab-size curve. Parity
    at both fixture SFs; invariants — covered occurrences are monotone
    non-decreasing in vocabulary size (a bigger frequency cut can only
    cover more), oov_rate is the exact complement division, the largest
    fixture vocabulary still leaves OOV mass (the curve is non-trivial),
    and vocab_tokens caps at the distinct-token count. NOTE for
    registration: the frequency rank rides with_global_rank, so the
    plan-sweep whitelist `_UNPARTITIONED_WINDOW_OK` needs this entry
    (32-row offsets cumsum, the dictionary_encode precedent)."""
    from data_engineer_development_spark.queries.passage_ops import (
        _VOCAB_CURVE_SQL,
        _VOCAB_SIZES,
        q_tokenizer_vocab_curve,
    )
    from tests.conftest import SF_SMOKE
    from tests.oracle_harness import compare

    for sf_dir in (SF_SMOKE, SF_CORRECT):
        ok, msg = compare(
            spark, sf_dir, "tokenizer_vocab_curve",
            q_tokenizer_vocab_curve, _VOCAB_CURVE_SQL,
        )
        assert ok, f"{sf_dir}: {msg}"

    rows = q_tokenizer_vocab_curve(spark, SF_CORRECT).collect()
    assert [r["vocab_size"] for r in rows] == sorted(_VOCAB_SIZES)
    total = rows[0]["total_occ"]
    prev = -1
    for r in rows:
        assert r["total_occ"] == total
        assert prev <= r["covered_occ"] <= total
        prev = r["covered_occ"]
        assert r["oov_rate"] == (total - r["covered_occ"]) / total
        assert r["vocab_tokens"] <= r["vocab_size"]
    # non-trivial at the small end: the 25-token cut leaves OOV mass
    assert 0 < rows[0]["covered_occ"] < total
    # saturation consistency: covered == total exactly when the cut
    # swallows the whole vocabulary (vocab_tokens < vocab_size)
    for r in rows:
        assert (r["covered_occ"] == total) == (
            r["vocab_tokens"] < r["vocab_size"]
        ) or r["vocab_tokens"] == r["vocab_size"]

def test_emb_top_direction_parity_mirror_and_rayleigh(spark):
    """Staged r14+ candidate: integer power iteration for the dominant
    embedding direction. Parity at both fixture SFs; the engine iterate
    must equal an INDEPENDENT arbitrary-precision python mirror of the
    spec EXACTLY (the pagerank/BPE discipline); and the result must be
    linear-algebra honest — the exact-integer Rayleigh quotient it
    reports reaches ≥ 0.95 of numpy's true λ1 after the 8 fixed rounds
    (the fixture is near-isotropic, λ2/λ1 ≈ 0.963, so full eigenvector
    convergence is not the contract; captured variance is)."""
    import numpy as np

    from data_engineer_development_spark.queries.corpus_ops import (
        _PI_ROUNDS,
        _PI_SCALE,
        _emb_top_direction_sql,
        q_emb_top_direction,
    )
    from data_engineer_development_spark.sources import load_table
    from tests.conftest import SF_SMOKE
    from tests.oracle_harness import compare

    for sf_dir in (SF_SMOKE, SF_CORRECT):
        ok, msg = compare(
            spark, sf_dir, "emb_top_direction",
            q_emb_top_direction, _emb_top_direction_sql(),
        )
        assert ok, f"{sf_dir}: {msg}"

    rows = q_emb_top_direction(spark, SF_CORRECT).collect()
    assert [r["dim"] for r in rows] == list(range(1, 65))
    vs = [r["v"] for r in rows]
    assert max(abs(x) for x in vs) == _PI_SCALE
    assert rows[0]["eig_scale"] > 0

    embs = [
        r["embedding"]
        for r in load_table(spark, SF_CORRECT, "embeddings")
        .select("embedding")
        .collect()
    ]
    X = np.array(embs, dtype=np.float64)
    mx = np.abs(X).max(axis=1, keepdims=True)
    Q = np.floor(np.where(mx == 0, 0.0, X * 127.0 / mx) + 0.5)
    S = (Q.T @ Q).astype(np.int64)

    # arbitrary-precision mirror of the spec (python ints, no float)
    v = [_PI_SCALE] * 64
    for _ in range(_PI_ROUNDS):
        w = [sum(int(S[i, j]) * v[j] for j in range(64)) for i in range(64)]
        m = max(abs(x) for x in w)
        v = [
            (1 if x >= 0 else -1) * ((abs(x) * _PI_SCALE) // m) if m else
            _PI_SCALE
            for x in w
        ]
    assert vs == v  # engine == mirror, bit for bit
    wf = [sum(int(S[i, j]) * v[j] for j in range(64)) for i in range(64)]
    num = sum(a * b for a, b in zip(v, wf))
    den = sum(a * a for a in v)
    # milli-unit readout (raw vᵀSv would overflow int64 at ~1.4e5
    # vectors — review r13 finding), exact to the mirror
    assert rows[0]["rayleigh_milli"] == (num * 1000) // den

    l1 = float(np.linalg.eigvalsh(S.astype(np.float64))[-1])
    assert rows[0]["rayleigh_milli"] / 1000.0 / l1 >= 0.95

def test_incremental_join_parity_and_delta_identity(spark):
    """Staged r14+ candidate: join-delta view maintenance. Parity at both
    fixture SFs — where the ORACLE is the one-pass full recompute, so the
    hash match itself proves the four-term delta merge is lossless
    cross-engine. Invariants — the md5 delta slices are non-trivial on
    the fixture (all four terms see rows), and the merged view equals an
    independent direct Spark recompute value-for-value."""
    from pyspark.sql import functions as F

    from data_engineer_development_spark.functions.portable_hash import (
        spark_md5_int,
    )
    from data_engineer_development_spark.queries.warehouse_ops import (
        _INCREMENTAL_JOIN_SQL,
        q_incremental_join,
    )
    from data_engineer_development_spark.sources import load_table
    from tests.conftest import SF_SMOKE
    from tests.oracle_harness import compare

    for sf_dir in (SF_SMOKE, SF_CORRECT):
        ok, msg = compare(
            spark, sf_dir, "incremental_join",
            q_incremental_join, _INCREMENTAL_JOIN_SQL,
        )
        assert ok, f"{sf_dir}: {msg}"

    o = load_table(spark, SF_CORRECT, "orders")
    li = load_table(spark, SF_CORRECT, "lineitem")
    ha = spark_md5_int("concat('a', o_orderkey)")
    hb = spark_md5_int("concat('b', l_orderkey)")
    n_da = o.filter(F.expr(f"{ha} % 4 = 0")).count()
    n_db = li.filter(F.expr(f"{hb} % 4 = 0")).count()
    assert 0 < n_da < o.count()  # ΔA and A₀ both non-empty
    assert 0 < n_db < li.count()  # ΔB and B₀ both non-empty

    got = {
        r["o_orderpriority"]: (r["n_items"], r["sum_qty"])
        for r in q_incremental_join(spark, SF_CORRECT).collect()
    }
    want = {
        r["o_orderpriority"]: (r["n"], r["q"])
        for r in o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("l_quantity").cast("decimal(20,4)")), 4
            ).cast("double").alias("q"),
        )
        .collect()
    }
    assert got == want

def test_bm25_topk_parity_mirror_and_plan(spark):
    """Staged r14+ candidate: Okapi BM25 top-k. Parity at both fixture
    SFs; the engine ranking must equal a pure-python mirror of the
    rational-score spec (same integer fraction, same fixed-order float
    sum); scores are non-increasing; and the top-k is a TakeOrdered in
    the physical plan — never a global sort."""
    from collections import Counter, defaultdict

    from data_engineer_development_spark.queries.passage_ops import (
        _BM25_K,
        _BM25_QUERY,
        _BM25_SQL,
        q_bm25_topk,
    )
    from data_engineer_development_spark.sources import load_table
    from tests.conftest import SF_SMOKE
    from tests.oracle_harness import compare

    for sf_dir in (SF_SMOKE, SF_CORRECT):
        ok, msg = compare(
            spark, sf_dir, "bm25_topk", q_bm25_topk, _BM25_SQL
        )
        assert ok, f"{sf_dir}: {msg}"

    texts = {
        r["doc_id"]: [w for w in r["text"].split(" ") if w]
        for r in load_table(spark, SF_CORRECT, "documents")
        .select("doc_id", "text")
        .collect()
    }
    N = len(texts)
    T = sum(len(t) for t in texts.values())
    df = Counter()
    tf = defaultdict(Counter)
    for d, toks in texts.items():
        c = Counter(toks)
        for q in _BM25_QUERY:
            if c[q]:
                df[q] += 1
                tf[d][q] = c[q]
    want = []
    # ONLY docs containing at least one query term are ranked — the
    # engine's tf frame has no row for non-matching docs, so the mirror
    # must not pad with zero-score docs (review r13 finding)
    for d in tf:
        toks = texts[d]
        parts = []
        for q in _BM25_QUERY:
            t = tf[d][q]
            if t:
                num = 44 * t * (2 * N - 2 * df[q] + 1) * T
                den = (2 * df[q] + 1) * (
                    20 * T * t + 6 * T + 18 * len(toks) * N
                )
                parts.append(num / den)
            else:
                parts.append(0.0)
        acc = parts[0]
        for p in parts[1:]:  # same left-fold order as the engine
            acc = acc + p
        want.append((d, len(toks), acc))
    assert len(want) >= _BM25_K  # fixture has enough matching docs
    want = [
        w for w in sorted(want, key=lambda x: (-x[2], x[0]))[:_BM25_K]
    ]
    got = [
        (r["doc_id"], r["dl"], r["score"])
        for r in q_bm25_topk(spark, SF_CORRECT).collect()
    ]
    assert got == want  # rank, dl, and float score all exact
    scores = [s for _, _, s in got]
    assert scores == sorted(scores, reverse=True) and scores[-1] > 0

    plan = (
        q_bm25_topk(spark, SF_CORRECT)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan, plan[:1500]


def test_minhash_est_error_parity_and_banding_floor(spark):
    """Staged r14: the MinHash estimator audit hash-matches its oracle at
    both fixture SFs, and its invariants hold — every banded candidate
    matches at least one full band of signature slots (NUM_PERM/BANDS),
    the estimate is n_match/NUM_PERM exactly, and abs_err is consistent
    with the pair's exact Jaccard."""
    from tests.conftest import SF_SMOKE

    from data_engineer_development_spark.queries.dedup import (
        BANDS,
        NUM_PERM,
        _minhash_est_error_sql,
        q_minhash_est_error,
    )
    from tests.oracle_harness import compare

    for sf_dir in (SF_SMOKE, SF_CORRECT):
        ok, msg = compare(
            spark,
            sf_dir,
            "minhash_est_error",
            q_minhash_est_error,
            _minhash_est_error_sql(),
        )
        assert ok, f"{sf_dir}: {msg}"
    rows = q_minhash_est_error(spark, SF_CORRECT).collect()
    assert rows
    for r in rows:
        assert r["n_match"] >= NUM_PERM // BANDS  # shared band ⇒ floor
        assert r["est_jaccard"] == r["n_match"] / NUM_PERM
        assert abs(r["abs_err"] - abs(r["est_jaccard"] - r["jaccard"])) == 0


def test_minhash_est_error_short_docs_drop_consistently(spark, tmp_path):
    """Review r14 (confirmed by repro): a <3-token document has an EMPTY
    shingle set — every minhash sig NULL, so all short docs shared band
    key '0' and paired up, then NULL==NULL made n_match NULL in Spark
    while the oracle emitted 0s. Both sides now DROP pairs with an
    empty-shingle endpoint; pin that on a crafted corpus the fixtures
    don't contain (engine≡oracle hash, no NULLs, short ids never pair)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_engineer_development_spark.queries.dedup import (
        _minhash_est_error_sql,
        q_minhash_est_error,
    )
    from tests.conftest import SF_SMOKE
    from tests.oracle_harness import TABLE_NAMES, compare

    d = tmp_path / "sf_short"
    d.mkdir()
    for t in TABLE_NAMES:
        if t != "documents":
            os.symlink(f"{SF_SMOKE}/{t}.parquet", d / f"{t}.parquet")
    pq.write_table(
        pa.table(
            {
                "doc_id": [1, 2, 3, 4],
                "text": [
                    "hello world",          # 2 tokens -> empty shingles
                    "foo bar",              # 2 tokens -> empty shingles
                    "a b c d e f common",   # near-dup pair with real
                    "a b c d e g common",   # shingles
                ],
            }
        ),
        str(d / "documents.parquet"),
    )
    ok, msg = compare(
        spark,
        str(d),
        "minhash_est_error",
        q_minhash_est_error,
        _minhash_est_error_sql(),
    )
    assert ok, msg
    rows = q_minhash_est_error(spark, str(d)).collect()
    assert rows, "the real near-dup pair must survive"
    for r in rows:
        assert r["n_match"] is not None and r["jaccard"] is not None
        assert {r["id1"], r["id2"]} <= {3, 4}  # short docs never pair


def test_linear_attribution_parity_and_conservation(spark):
    """Staged r14: linear multi-touch attribution hash-matches its
    oracle at both fixture SFs, and credit conserves value up to the
    per-touch truncation: for each purchase the n equal integer shares
    lose < n micro-cents, so total credit lies in
    (total_value_micro − total_touches, total_value_micro]."""
    from data_engineer_development_spark.queries.analytics import (
        _LINEAR_ATTRIBUTION_SQL,
        q_linear_attribution,
    )
    from data_engineer_development_spark.sources import load_table
    from tests.conftest import SF_SMOKE
    from tests.oracle_harness import compare

    for sf_dir in (SF_SMOKE, SF_CORRECT):
        ok, msg = compare(
            spark,
            sf_dir,
            "linear_attribution",
            q_linear_attribution,
            _LINEAR_ATTRIBUTION_SQL,
        )
        assert ok, f"{sf_dir}: {msg}"
    rows = q_linear_attribution(spark, SF_CORRECT).collect()
    total_credit = sum(r["credit_micro"] for r in rows)
    total_touches = sum(r["n_credits"] for r in rows)
    total_value = (
        load_table(spark, SF_CORRECT, "events")
        .filter(F.col("event_type") == "purchase")
        .agg(
            F.sum(
                F.round(F.col("value") * 100).cast("long") * 10000
            ).alias("v")
        )
        .collect()[0]["v"]
    )
    assert total_value - total_touches < total_credit <= total_value
    assert any(r["click_day"] is not None for r in rows)
