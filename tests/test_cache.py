"""Scoped cache release (cache.track_persist / release_tracked).

Verdict r7 item 6: correctness of memory hygiene must not depend on
harness-side ``spark.catalog.clearCache()`` — a sweep that forgets it must
not accumulate one cached copy of the input per entry. Operators register
their load-bearing persists; ``release_tracked()`` frees exactly those.
"""

from __future__ import annotations

import os
import tempfile
import threading
import time

import pytest
from conftest import SF_SMOKE

from data_engineer_development_spark import cache
from data_engineer_development_spark.queries import all_queries


def _n_cached(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _run(spark, name: str) -> None:
    all_queries()[name](spark, SF_SMOKE).write.format("noop").mode(
        "overwrite"
    ).save()


def test_sweep_without_clearcache_leaves_no_cached_rdds(spark):
    """Run the persisting entries back-to-back with NO clearCache — only
    the scoped release — and assert zero persistent RDDs survive. Covers
    every operator family that calls track_persist: the two-pass rank
    (ntile_deciles, dictionary_encode), the posting-list dedups
    (dedup_jaccard, dedup_incremental), MinHash/LSH (dedup_minhash_lsh,
    lsh_candidate_recall), SimHash pairs, and the shingled contamination
    frame — plus one entry per checkpointing family (connected components,
    pagerank, a shared gram stream, a recursive CTE's edge list, a dropped
    database, a snapshot landing dir, an export round trip): every
    checkpoint is tracked, so the release frees those too."""
    spark.catalog.clearCache()  # clean slate from earlier test modules
    cache.release_tracked()
    assert _n_cached(spark) == 0
    for name in [
        "ntile_deciles",
        "dictionary_encode",
        "dedup_jaccard",
        "dedup_minhash_lsh",
        "dedup_simhash_pairs",
        "contamination_check",
        "dedup_clusters",
        "supplier_pagerank",
        "phrase_search",
        "recursive_reachability",
        "bucketed_join_colocate",
        "snapshot_evolution_read",
        "export_orc_roundtrip",
    ]:
        _run(spark, name)
        assert _n_cached(spark) > 0, name  # persist actually engaged
        cache.release_tracked()
    assert _n_cached(spark) == 0


def test_scratch_entries_leave_tmpdir_empty(spark, tmp_path, monkeypatch):
    """Entries that land scratch files (a KV log, manifest shards, evolving
    parquet batches) remove them: pointed at an empty temp dir, the runs
    leave it empty."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    for name in ["kv_store_roundtrip", "manifest_source", "schema_evolution_read"]:
        _run(spark, name)
    cache.release_tracked()
    assert os.listdir(tmp_path) == []


def test_release_tracked_reports_count_and_is_idempotent(spark):
    _run(spark, "ntile_deciles")
    assert cache.release_tracked() >= 1
    assert cache.release_tracked() == 0
    assert _n_cached(spark) == 0


def test_session_reserves_jit_code_cache(spark):
    """Pin the round-8 long-JVM fix: without -XX:ReservedCodeCacheSize the
    155+-query bench sweep exhausts the default 240 MB JIT code cache and
    the JVM silently flushes cold compiled code, inflating late queries
    1.3-2.3x (supplier_pagerank read 9.4 s in-bench vs 3.95 s fresh-JVM).
    The factory must keep reserving a larger cache unless explicitly
    overridden via $SPARK_GRAFT_DRIVER_JAVA_OPTS."""
    import os

    if os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS"):
        return  # operator override in effect; nothing to pin
    opts = spark.conf.get("spark.driver.extraJavaOptions", "")
    assert "ReservedCodeCacheSize" in opts, opts


def test_bpe_checkpoints_release_and_do_not_stack(spark):
    """localCheckpoint blocks live at the RDD layer where clearCache
    can't reach them (r12 lesson: the lineage-truncation fix would have
    leaked one persistent RDD per checkpoint generation). The tracked
    wrapper must (a) hold at most ONE generation during training —
    superseded generations free as soon as the next materializes — and
    (b) leave zero persistent RDDs after release_tracked()."""
    from data_engineer_development_spark import cache
    from data_engineer_development_spark.operators.bpe import bpe_train
    from data_engineer_development_spark.sources import load_table

    spark.catalog.clearCache()
    cache.release_tracked()
    assert _n_cached(spark) == 0
    docs = load_table(spark, SF_SMOKE, "documents")
    # k=20 crosses two BPE_PERSIST_EVERY=8 checkpoints: generation 1
    # must be freed when generation 2 lands (at most 1 checkpoint RDD
    # + the initial tracked persist alive at any point)
    bpe_train(docs, k_merges=20).collect()
    assert len(cache._TRACKED_RDDS) == 1  # the live final generation
    cache.release_tracked()
    assert _n_cached(spark) == 0 and not cache._TRACKED_RDDS


def test_local_checkpoint_does_not_capture_upstream_persist(spark):
    """ADVICE r12: the snapshot diff around the eager checkpoint must
    attribute ONLY locally-checkpointed RDDs to the checkpoint handle
    set. When the eager action is the FIRST action over an upstream
    track_persist SQL cache, that cache's RDD also first appears inside
    the diff window — misattributing it would unpersist the shared cache
    early when the handle is passed back via free=."""
    from pyspark.sql import functions as F

    spark.catalog.clearCache()
    cache.release_tracked()
    assert _n_cached(spark) == 0
    base = cache.track_persist(
        spark.range(1000).withColumn("x", F.col("id") * 2)
    )
    # no action yet: the persist is registered but NOT materialized —
    # the eager checkpoint below is its first action
    out, handles = cache.local_checkpoint_tracked(
        base.withColumn("y", F.col("x") + 1)
    )
    assert len(handles) == 1 and handles[0].isLocallyCheckpointed()
    assert _n_cached(spark) == 2  # SQL cache + checkpoint generation
    assert out.count() == 1000  # consume BEFORE freeing (lineage is cut)
    for h in handles:
        h.unpersist(True)
    # the upstream SQL cache must have survived freeing the checkpoint
    assert _n_cached(spark) == 1
    cache._TRACKED_RDDS.clear()
    cache.release_tracked()
    spark.catalog.clearCache()
    assert _n_cached(spark) == 0


def test_persisted_self_join_computes_its_input_once(spark):
    """The ONE-materialization premise of ``cache.py``: a tracked persist
    read by both sides of a self-join is computed once, even on a cold
    cache with both sides' map stages running at once. The task that
    loses the race for a block waits for it and reads it — Spark's
    "Block rdd_N_M already exists on this machine; not re-adding it" log
    line comes from that lock-then-reuse path, not from a recompute. A
    Python UDF in the persisted projection counts its calls."""
    from pyspark.sql import functions as F

    n = 20_000
    calls = spark.sparkContext.accumulator(0)

    def doubled(x):
        calls.add(1)
        return 2 * x

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        base = cache.track_persist(
            spark.range(n).select("id", F.udf(doubled, "long")("id").alias("v"))
        )
        # two different projections, so two shuffle map stages (not one
        # reused exchange), and both value columns survive pruning
        left = base.select("id", "v")
        right = base.select("id", (F.col("v") + 1).alias("w"))
        row = left.join(right, "id").agg(F.sum("v"), F.sum("w")).first()
        assert tuple(row) == (n * (n - 1), n * (n - 1) + n)
        assert calls.value == n
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        cache.release_tracked()


def test_overlap_orders_results_runs_single_inline_and_settles_siblings():
    """cache.overlap's contract, pure Python: results in input order
    (whatever order the functions finish in), one function runs on the
    caller's thread, and a failure reaches the caller only after every
    sibling has settled — a failed guard must never leave a write still
    running while the caller cleans up."""

    def after(delay, value):
        def fn():
            time.sleep(delay)
            return value

        return fn

    assert cache.overlap([after(0.2, "a"), after(0.0, "b"), after(0.1, "c")]) == [
        "a", "b", "c",
    ]
    assert cache.overlap([]) == []
    assert cache.overlap([threading.get_ident]) == [threading.get_ident()]

    finished = []

    def boom():
        raise RuntimeError("guard failed")

    def slow():
        time.sleep(0.3)
        finished.append("slow")

    with pytest.raises(RuntimeError, match="guard failed"):
        cache.overlap([boom, slow])
    assert finished == ["slow"]


def test_overlapped_checkpoints_each_track_only_their_own_blocks(spark):
    """ADVICE r18 #2: two tracked checkpoints started together from
    overlap's threads. The getPersistentRDDs diff is serialized, so each
    call reports exactly its own checkpoint RDD — never the sibling's —
    and one release frees both."""
    spark.catalog.clearCache()
    cache.release_tracked()
    assert _n_cached(spark) == 0
    start = threading.Barrier(2)

    def checkpoint(n: int):
        def fn():
            start.wait(timeout=60)
            return cache.local_checkpoint_tracked(spark.range(n).repartition(4))

        return fn

    (out_a, h_a), (out_b, h_b) = cache.overlap([checkpoint(1000), checkpoint(2000)])
    for out, handles in ((out_a, h_a), (out_b, h_b)):
        assert [h.id() for h in handles] == [out._jdf.logicalPlan().rdd().id()]
    assert (out_a.count(), out_b.count()) == (1000, 2000)
    cache.release_tracked()
    assert _n_cached(spark) == 0 and not cache._TRACKED_RDDS


def test_overlap_carries_callers_local_properties(spark):
    """Jobs submitted from overlap's threads carry the caller's job group
    and description, so they are attributed to the caller's query."""
    sc = spark.sparkContext
    sc.setJobGroup("g1", "overlap probe")
    try:
        got = cache.overlap(
            [lambda: (sc.getLocalProperty("spark.jobGroup.id"),
                      sc.getLocalProperty("spark.job.description"))] * 2
        )
    finally:
        sc._jsc.clearJobGroup()
    assert [g for g, _ in got] == ["g1", "g1"]
    assert [d for _, d in got] == ["overlap probe"] * 2
