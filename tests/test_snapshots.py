"""Versioned snapshot log (operators/snapshots.py) — file-level time
travel semantics, and the staged time_travel_read query's oracle parity."""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

import pytest
from conftest import SF_CORRECT, SF_SMOKE
from pyspark.sql import functions as F


def _base() -> str:
    return os.path.join(tempfile.gettempdir(), f"snap-{uuid.uuid4().hex}")


def _parity(spark, name, fn, sql):
    from tests.oracle_harness import compare

    for sf_dir in (SF_SMOKE, SF_CORRECT):
        ok, msg = compare(spark, sf_dir, name, fn, sql)
        assert ok, f"{sf_dir}: {msg}"


def test_time_travel_read_oracle_parity(spark):
    """Staged r14 (VERDICT r13 #8's snapshot/time-travel reads):
    hash-exact parity at both fixture SFs — per-version summaries equal
    the closed-form slices of the source table, including the v2
    compaction row (file set changed, logical rows didn't)."""
    from data_engineer_development_spark.queries.warehouse_ops import (
        _TIME_TRAVEL_SQL,
        q_time_travel_read,
    )

    _parity(spark, "time_travel_read", q_time_travel_read, _TIME_TRAVEL_SQL)


def test_snapshot_add_remove_and_asof_semantics(spark):
    """A version's reader set is adds<=V minus removes<=V; historical
    reads keep answering after later versions remove their files; the
    pre-history read and the empty commit raise named errors."""
    from data_engineer_development_spark.operators.snapshots import (
        append_snapshot,
        live_files,
        read_asof,
    )

    base = _base()
    try:
        a = spark.createDataFrame([(1,), (2,)], "x long")
        b = spark.createDataFrame([(3,)], "x long")
        append_snapshot(spark, base, 1, {"a": a})
        append_snapshot(spark, base, 2, {"b": b}, removes=["a"])
        assert live_files(spark, base, 1) == ["a"]
        assert live_files(spark, base, 2) == ["b"]
        v1 = sorted(r["x"] for r in read_asof(spark, base, 1).collect())
        v2 = sorted(r["x"] for r in read_asof(spark, base, 2).collect())
        assert v1 == [1, 2]  # still readable AFTER version 2 removed 'a'
        assert v2 == [3]
        # a version number past the log reads the latest state
        assert sorted(
            r["x"] for r in read_asof(spark, base, 99).collect()
        ) == [3]
        with pytest.raises(ValueError, match="no live files"):
            read_asof(spark, base, 0)
        with pytest.raises(ValueError, match="empty version"):
            append_snapshot(spark, base, 3)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_snapshot_file_ids_are_immutable(spark):
    """Re-using a file_id must fail loudly at write time (mode 'error')
    — immutability is what makes every historical version's file set a
    frozen, consistent snapshot."""
    from data_engineer_development_spark.operators.snapshots import (
        append_snapshot,
    )

    base = _base()
    try:
        df = spark.createDataFrame([(1,)], "x long")
        append_snapshot(spark, base, 1, {"f": df})
        with pytest.raises(Exception, match="already exists|LOCATION_ALREADY"):
            append_snapshot(spark, base, 2, {"f": df})
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_deletion_vector_read_oracle_parity(spark):
    """Staged r14: per-version summaries under accumulated row-level
    deletion vectors equal closed-form slices of the source at both
    fixture SFs."""
    from data_engineer_development_spark.queries.warehouse_ops import (
        _DELETION_VECTOR_SQL,
        q_deletion_vector_read,
    )

    _parity(
        spark, "deletion_vector_read", q_deletion_vector_read,
        _DELETION_VECTOR_SQL,
    )


def test_deletion_vectors_time_travel_and_require_key(spark):
    """Deletes are versioned like adds: a v1 reader sees every row AFTER
    later versions deleted some; a reader that would hit applicable
    vectors without naming dv_key fails loudly instead of resurrecting
    deleted rows; deleted keys are actually absent."""
    import pytest as _pytest

    from data_engineer_development_spark.operators.snapshots import (
        append_snapshot,
        read_asof,
    )

    base = _base()
    try:
        df = spark.createDataFrame([(i,) for i in range(10)], "x long")
        append_snapshot(spark, base, 1, {"f": df})
        dels = spark.createDataFrame([(2,), (5,)], "x long")
        append_snapshot(spark, base, 2, dvs={"f": dels}, dv_key="x")
        v1 = sorted(r["x"] for r in read_asof(spark, base, 1).collect())
        assert v1 == list(range(10))  # pre-delete version intact
        v2 = sorted(
            r["x"] for r in read_asof(spark, base, 2, dv_key="x").collect()
        )
        assert v2 == [0, 1, 3, 4, 6, 7, 8, 9]
        with _pytest.raises(ValueError, match="dv_key"):
            read_asof(spark, base, 2)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_expire_versions_drops_only_pre_floor_removed_files(spark):
    """VACUUM: files removed at or before the floor are physically
    dropped (with their deletion vectors); reads at or past the floor
    are untouched; a dry-run plan deletes nothing."""
    import os

    from data_engineer_development_spark.operators.snapshots import (
        append_snapshot,
        expire_versions,
        read_asof,
    )

    base = _base()
    try:
        a = spark.createDataFrame([(1,)], "x long")
        b = spark.createDataFrame([(2,)], "x long")
        c = spark.createDataFrame([(3,)], "x long")
        append_snapshot(spark, base, 1, {"a": a})
        append_snapshot(spark, base, 2, {"b": b}, removes=["a"])
        append_snapshot(spark, base, 3, {"c": c})
        plan = expire_versions(spark, base, 2, delete=False)
        assert plan == ["a"]
        assert os.path.exists(os.path.join(base, "data", "a"))  # dry run
        dropped = expire_versions(spark, base, 2)
        assert dropped == ["a"]
        assert not os.path.exists(os.path.join(base, "data", "a"))
        # reads at/past the floor untouched: v2 = {b}, v3 = {b, c}
        assert sorted(
            r["x"] for r in read_asof(spark, base, 3).collect()
        ) == [2, 3]
        # 'b' removed at no version, 'c' never removed: nothing else dies
        assert expire_versions(spark, base, 3) == ["a"]
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_bucketed_join_colocate_parity_and_no_exchange_below_join(spark):
    """Staged r14: the bucketed co-located join equals the plain join
    (oracle hash at both fixture SFs) and its JOIN subplan carries zero
    Exchange — the bucket layout replaces the shuffle."""
    from data_engineer_development_spark.queries.warehouse_ops import (
        _BUCKETED_JOIN_SQL,
        _write_bucketed_sides,
        q_bucketed_join_colocate,
    )

    _parity(
        spark, "bucketed_join_colocate", q_bucketed_join_colocate,
        _BUCKETED_JOIN_SQL,
    )

    from conftest import fresh_db

    try:
        # fresh_db also clears any orphaned warehouse dir a killed run
        # left behind — the LOCATION_ALREADY_EXISTS mode the operator's
        # docstring documents (review r14: a fixed name without the
        # cleanup reproduces it)
        fresh_db(spark, "bjcq_plan_test")
        ob, lb = _write_bucketed_sides(spark, SF_CORRECT, "bjcq_plan_test")
        joined = ob.join(lb.hint("merge"), ob.o_orderkey == lb.l_orderkey)
        plan = joined._sc._jvm.PythonSQLUtils.explainString(
            joined._jdf.queryExecution(), "formatted"
        )
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
    finally:
        spark.sql("DROP DATABASE IF EXISTS bjcq_plan_test CASCADE")


def test_orphan_files_reports_uncommitted_debris_only(spark):
    """A data dir landed without its log rows (writer died mid-commit)
    is reported as an orphan; committed files never are; reporting does
    not delete anything."""
    import os

    from data_engineer_development_spark.operators.snapshots import (
        append_snapshot,
        orphan_files,
    )

    base = _base()
    try:
        df = spark.createDataFrame([(1,)], "x long")
        append_snapshot(spark, base, 1, {"good": df})
        # simulate the crash window: data lands, log rows never do
        df.write.parquet(os.path.join(base, "data", "debris"))
        assert orphan_files(spark, base) == ["debris"]
        assert os.path.exists(os.path.join(base, "data", "debris"))  # report only
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_deletion_vectors_are_file_scoped(spark):
    """ADVICE r14 (medium): a vector logged against file A masks only
    A's rows — a sibling live file B sharing key values keeps every
    row. The earlier table-wide anti-join deleted x=1 from BOTH files;
    file-scoped semantics (the Delta/Iceberg contract the docstring
    claims) keep B's x=1 alive."""
    from data_engineer_development_spark.operators.snapshots import (
        append_snapshot,
        read_asof,
    )

    base = _base()
    try:
        a = spark.createDataFrame([(1, "a"), (2, "a")], "x long, src string")
        b = spark.createDataFrame([(1, "b"), (3, "b")], "x long, src string")
        append_snapshot(spark, base, 1, {"fa": a, "fb": b})
        dels = spark.createDataFrame([(1,)], "x long")
        append_snapshot(spark, base, 2, dvs={"fa": dels}, dv_key="x")
        rows = sorted(
            (r["x"], r["src"])
            for r in read_asof(spark, base, 2, dv_key="x").collect()
        )
        # fa loses x=1; fb's x=1 SURVIVES (file-scoped, not table-wide)
        assert rows == [(1, "b"), (2, "a"), (3, "b")]
        # v1 still sees all four rows
        assert len(read_asof(spark, base, 1).collect()) == 4
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_never_committed_table_reads_as_empty_log(spark):
    """ADVICE r14: a base_dir whose _log was never written is a valid
    zero-commit table state — snapshot_log is empty, live_files is [],
    orphan_files reports the debris (its exact first-commit-crash use
    case), and read_asof raises its NAMED no-live-files error instead
    of a raw PATH_NOT_FOUND AnalysisException."""
    import os

    from data_engineer_development_spark.operators.snapshots import (
        live_files,
        orphan_files,
        read_asof,
        snapshot_log,
    )

    base = _base()
    try:
        # writer died before its very first commit: data dir, no _log
        spark.createDataFrame([(1,)], "x long").write.parquet(
            os.path.join(base, "data", "debris")
        )
        assert snapshot_log(spark, base).count() == 0
        assert live_files(spark, base, 99) == []
        assert orphan_files(spark, base) == ["debris"]
        with pytest.raises(ValueError, match="no live files"):
            read_asof(spark, base, 99)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_snapshot_vacuum_audit_oracle_parity(spark):
    """Registered r15 (VERDICT r14 #5): hash-exact parity at both
    fixture SFs — expired files report zero recoverable rows, live
    files' read-back equals the closed-form %4 slices (the vacuum
    dropped exactly the unreachable bytes and nothing else)."""
    from data_engineer_development_spark.queries.warehouse_ops import (
        _VACUUM_AUDIT_SQL,
        q_snapshot_vacuum_audit,
    )

    _parity(
        spark, "snapshot_vacuum_audit", q_snapshot_vacuum_audit,
        _VACUUM_AUDIT_SQL,
    )


def test_legacy_log_without_schema_column_reads_strict(spark):
    """ADVICE r15: logs written before the 4-column _LOG_SCHEMA read
    NULL for the schema column. Strict (merge_schema=False) reads over
    a mixed old/new log must neither TypeError on sorted({None, str})
    nor silently disable the divergence check — unknown schemas are
    excluded, KNOWN divergence still raises."""
    import pyspark.sql.functions as F

    from data_engineer_development_spark.operators.snapshots import (
        append_snapshot,
        read_asof,
    )

    base = _base()
    try:
        # v1: a LEGACY commit — 3-column log row, no schema column
        df1 = spark.range(3).select(F.col("id").alias("k"))
        df1.write.parquet(os.path.join(base, "data", "f1"))
        spark.sql(
            "SELECT CAST(1 AS LONG) AS version, 'add' AS action, "
            "'f1' AS file_id"
        ).coalesce(1).write.mode("append").parquet(
            os.path.join(base, "_log")
        )
        # all-legacy table: strict read works (nothing known to diverge)
        assert read_asof(spark, base, 1).count() == 3

        # v2: a NEW-format commit with the SAME schema
        append_snapshot(
            spark,
            base,
            2,
            adds={"f2": spark.range(2).select(F.col("id").alias("k"))},
        )
        # mixed {NULL, known}: strict read must not TypeError
        assert read_asof(spark, base, 2).count() == 5

        # v3: a KNOWN divergent schema — strict still fails loudly
        append_snapshot(
            spark,
            base,
            3,
            adds={
                "f3": spark.range(1).select(
                    F.col("id").alias("k"), F.lit("x").alias("extra")
                )
            },
        )
        with pytest.raises(ValueError, match="divergent committed"):
            read_asof(spark, base, 3)
        assert read_asof(spark, base, 3, merge_schema=True).count() == 6
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_plan_compaction_packs_next_fit_and_drops_singletons(spark):
    """plan_compaction groups the live LISTING next-fit in file_id
    order; a trailing group left with one member is dropped (rewriting
    one file buys nothing)."""
    import pyspark.sql.functions as F

    from data_engineer_development_spark.operators.snapshots import (
        live_file_sizes,
        plan_compaction,
    )

    base = _base()
    try:
        from data_engineer_development_spark.operators.snapshots import (
            append_snapshot,
        )

        # four files of increasing row counts → increasing byte sizes
        append_snapshot(
            spark, base, 1,
            {
                f"f{i}": spark.range(n).select(F.col("id").alias("k"))
                for i, n in enumerate([10, 10, 10, 20000])
            },
        )
        sizes = dict(live_file_sizes(spark, base, 1))
        assert set(sizes) == {"f0", "f1", "f2", "f3"}
        assert sizes["f3"] > sizes["f0"] > 0

        # target bigger than everything → one group of all four
        total = sum(sizes.values())
        assert plan_compaction(spark, base, 1, total + 1) == [
            ["f0", "f1", "f2", "f3"]
        ]
        # target equal to f3's prior cumsum → f3 crosses into its own
        # group → a singleton → dropped
        assert plan_compaction(
            spark, base, 1, sizes["f0"] + sizes["f1"] + sizes["f2"]
        ) == [["f0", "f1", "f2"]]
        with pytest.raises(ValueError, match="target_bytes"):
            plan_compaction(spark, base, 1, 0)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_apply_compaction_atomic_commit_and_time_travel(spark):
    """apply_compaction rewrites each group as ONE new file in ONE
    commit: logical content invariant, file count shrinks, readers at
    the pre-compaction version still see the OLD file set, and invalid
    plans (empty, overlapping, singleton, non-live member) fail loudly
    without committing."""
    import pyspark.sql.functions as F

    from data_engineer_development_spark.operators.snapshots import (
        append_snapshot,
        apply_compaction,
        live_files,
        read_asof,
    )

    base = _base()
    try:
        append_snapshot(
            spark, base, 1,
            {
                f"f{i}": spark.range(i * 10, i * 10 + 10).select(
                    F.col("id").alias("k")
                )
                for i in range(4)
            },
        )
        new = apply_compaction(spark, base, 2, [["f0", "f1"], ["f2", "f3"]])
        assert new == ["compact2_0", "compact2_1"]
        assert live_files(spark, base, 2) == ["compact2_0", "compact2_1"]
        # pre-compaction version: old file set, untouched
        assert live_files(spark, base, 1) == ["f0", "f1", "f2", "f3"]
        rows_v1 = sorted(r["k"] for r in read_asof(spark, base, 1).collect())
        rows_v2 = sorted(r["k"] for r in read_asof(spark, base, 2).collect())
        assert rows_v1 == rows_v2 == list(range(40))

        with pytest.raises(ValueError, match="empty plan"):
            apply_compaction(spark, base, 3, [])
        with pytest.raises(ValueError, match="singleton"):
            apply_compaction(spark, base, 3, [["compact2_0"]])
        with pytest.raises(ValueError, match="more than one group"):
            apply_compaction(
                spark, base, 3,
                [["compact2_0", "compact2_1"], ["compact2_1", "compact2_0"]],
            )
        with pytest.raises(ValueError, match="not live"):
            apply_compaction(spark, base, 3, [["f0", "f1"]])
        # none of the failed applies committed anything
        assert live_files(spark, base, 99) == ["compact2_0", "compact2_1"]
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_compaction_apply_oracle_parity(spark):
    """Registered r16 (VERDICT r15 #6): hash-exact parity at both
    fixture SFs — v1 and v2 carry identical logical content with file
    counts 6 → 2."""
    from data_engineer_development_spark.queries.warehouse_ops import (
        _COMPACTION_APPLY_SQL,
        q_compaction_apply,
    )

    _parity(
        spark, "compaction_apply", q_compaction_apply,
        _COMPACTION_APPLY_SQL,
    )


def test_uncommitted_checkpoint_dir_is_skipped(spark):
    """ADVICE r16 (high): a writer that dies mid-checkpoint leaves a
    ``_log_ckpt/v<N>`` dir WITHOUT the ``_SUCCESS`` commit marker.
    Readers must skip it — trusting it by name would shadow the real
    log and silently drop all pre-checkpoint history (the empirical
    repro: snapshot_log 3 rows -> 1, live_files(v3) ['c'] instead of
    ['a','b','c'])."""
    from pyspark.sql import functions as F

    from data_engineer_development_spark.operators.snapshots import (
        append_snapshot,
        checkpoint_log,
        live_files,
        snapshot_log,
    )

    base = _base()
    try:
        rows = spark.range(30).select(F.col("id").alias("k"))
        append_snapshot(spark, base, 1, {"a": rows.filter("k < 10")})
        append_snapshot(spark, base, 2, {"b": rows.filter("k >= 10 and k < 20")})
        append_snapshot(spark, base, 3, {"c": rows.filter("k >= 20")})

        # simulate the crashed writer: a v3 dir holding one action row
        # but NO _SUCCESS marker (partial job output)
        bad = os.path.join(base, "_log_ckpt", "v3")
        snapshot_log(spark, base).filter(
            "version = 3"
        ).coalesce(1).write.mode("overwrite").parquet(bad)
        os.remove(os.path.join(bad, "_SUCCESS"))

        # the uncommitted dir is invisible: full history survives
        assert snapshot_log(spark, base).count() == 3
        assert live_files(spark, base, 3) == ["a", "b", "c"]

        # a real checkpoint_log then replaces the debris with a
        # committed (marker-bearing) checkpoint and compacts the tail
        assert checkpoint_log(spark, base) == 3
        assert os.path.exists(os.path.join(bad, "_SUCCESS"))
        assert snapshot_log(spark, base).count() == 3
        assert live_files(spark, base, 3) == ["a", "b", "c"]
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_checkpoint_log_rerun_without_new_commit_is_noop(spark):
    """ADVICE r16 (low): re-checkpointing at an unchanged head must
    not overwrite the checkpoint the lazy log plan reads from —
    checkpoint_log early-returns the head instead."""
    import glob

    from pyspark.sql import functions as F

    from data_engineer_development_spark.operators.snapshots import (
        append_snapshot,
        checkpoint_log,
        live_files,
        snapshot_log,
    )

    base = _base()
    try:
        rows = spark.range(10).select(F.col("id").alias("k"))
        append_snapshot(spark, base, 1, {"a": rows})
        assert checkpoint_log(spark, base) == 1
        ckpt_files = sorted(
            glob.glob(os.path.join(base, "_log_ckpt", "v1", "part-*"))
        )
        mtimes = [os.path.getmtime(p) for p in ckpt_files]
        # idempotent no-op: same head returned, checkpoint bytes untouched
        assert checkpoint_log(spark, base) == 1
        assert sorted(
            glob.glob(os.path.join(base, "_log_ckpt", "v1", "part-*"))
        ) == ckpt_files
        assert [os.path.getmtime(p) for p in ckpt_files] == mtimes
        assert snapshot_log(spark, base).count() == 1
        assert live_files(spark, base, 1) == ["a"]
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_merge_cdc_rejects_duplicate_source_keys(spark):
    """ADVICE r16 (low): duplicate keys WITHIN one upserts batch are an
    ambiguous merge (Delta's multiple-source-rows-matched error) — the
    guard fires before anything commits."""
    from pyspark.sql import functions as F

    from data_engineer_development_spark.operators.snapshots import (
        append_snapshot,
        merge_cdc,
        snapshot_log,
    )

    base = _base()
    try:
        rows = spark.range(10).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("val")
        )
        append_snapshot(spark, base, 1, {"a": rows})
        dup = spark.range(2).select(
            F.lit(3).alias("k"), F.col("id").alias("val")
        )
        with pytest.raises(ValueError, match="duplicate key"):
            merge_cdc(spark, base, 2, dup, None, "k")
        # nothing committed
        assert snapshot_log(spark, base).filter("version = 2").count() == 0
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_merge_cdc_key_bounds_prune_reads_only_touched_file(spark):
    """VERDICT r16 #4: manifest min/max key stats prune the routing
    read BEFORE any data I/O. Three files with recorded disjoint
    bounds; a batch touching only the middle file scans only it —
    proven the hard way: the two pruned files' bytes are MOVED AWAY
    during the merge, so any read of them would throw. Stats
    continuity: the commit records bounds for its own new file."""
    from pyspark.sql import functions as F

    from data_engineer_development_spark.operators.snapshots import (
        _key_stats,
        append_snapshot,
        merge_cdc,
        read_asof,
    )

    base = _base()
    try:
        rows = spark.range(30).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("val")
        )
        parts = {
            "f0": rows.filter("k < 10"),
            "f1": rows.filter("k >= 10 and k < 20"),
            "f2": rows.filter("k >= 20"),
        }
        append_snapshot(
            spark, base, 1, parts,
            stats_key="k",
        )
        assert _key_stats(spark, base, "k", ["f0", "f1", "f2"]) == {
            "f0": (0, 9), "f1": (10, 19), "f2": (20, 29),
        }

        # make any read of the pruned files IMPOSSIBLE, not just absent
        for fid in ("f0", "f2"):
            shutil.move(
                os.path.join(base, "data", fid),
                os.path.join(base, f"hidden-{fid}"),
            )
        ups = spark.range(12, 14).select(
            F.col("id").alias("k"), F.lit(-1).cast("long").alias("val")
        )
        res = merge_cdc(spark, base, 2, ups, None, "k")
        assert res["scanned"] == ["f1"]
        assert res["rewritten"] == ["f1"] and res["inserted"] == []
        for fid in ("f0", "f2"):
            shutil.move(
                os.path.join(base, f"hidden-{fid}"),
                os.path.join(base, "data", fid),
            )
        head = {
            r["k"]: r["val"] for r in read_asof(spark, base, 2).collect()
        }
        assert head[12] == -1 and head[13] == -1 and head[11] == 110
        assert len(head) == 30
        # continuity: the rewritten file carries measured bounds, so
        # the NEXT merge keeps pruning
        assert _key_stats(spark, base, "k", ["m2_f1"]) == {
            "m2_f1": (10, 19)
        }
        res2 = merge_cdc(
            spark, base, 3,
            spark.range(100, 102).select(
                F.col("id").alias("k"), F.lit(0).cast("long").alias("val")
            ),
            None, "k",
        )
        assert res2["scanned"] == []  # outside every file's bounds
        assert res2["inserted"] == ["m3_ins"]
        assert read_asof(spark, base, 3).count() == 32
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_merge_cdc_string_key_bounds_prune(spark):
    """String merge keys prune through the typed *_str bounds pair —
    never a lexicographic compare on numeric storage."""
    from pyspark.sql import functions as F

    from data_engineer_development_spark.operators.snapshots import (
        append_snapshot,
        merge_cdc,
    )

    base = _base()
    try:
        rows = spark.range(20).select(
            F.format_string("id-%02d", F.col("id")).alias("k"),
            F.col("id").alias("val"),
        )
        parts = {
            "a": rows.filter("k < 'id-10'"),
            "b": rows.filter("k >= 'id-10'"),
        }
        append_snapshot(
            spark, base, 1, parts,
            stats_key="k",
        )
        ups = spark.range(3, 5).select(
            F.format_string("id-%02d", F.col("id")).alias("k"),
            F.lit(-1).cast("long").alias("val"),
        )
        res = merge_cdc(spark, base, 2, ups, None, "k")
        assert res["scanned"] == ["a"]
        assert res["rewritten"] == ["a"]
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_snapshot_evolution_read_oracle_parity(spark):
    from data_engineer_development_spark.queries.warehouse_ops import (
        _SNAPSHOT_EVOLUTION_SQL,
        q_snapshot_evolution_read,
    )

    _parity(
        spark, "snapshot_evolution_read", q_snapshot_evolution_read,
        _SNAPSHOT_EVOLUTION_SQL,
    )


def test_read_asof_schema_evolution_semantics(spark):
    """merge_schema=True presents the union schema with NULLs for
    pre-evolution files; the strict default FAILS LOUDLY on divergent
    file schemas instead of silently dropping the new column; and a
    pre-evolution version read never grows columns it didn't have."""
    import os
    import shutil
    import tempfile
    import uuid

    import pytest as _pytest

    from data_engineer_development_spark.operators.snapshots import (
        append_snapshot,
        read_asof,
    )

    base = os.path.join(tempfile.gettempdir(), f"snevo-{uuid.uuid4().hex}")
    try:
        old = spark.createDataFrame([(1, 10.0)], "k long, amt double")
        new = spark.createDataFrame(
            [(2, 20.0, "HIGH")], "k long, amt double, prio string"
        )
        append_snapshot(spark, base, 1, {"f_old": old})
        append_snapshot(spark, base, 2, {"f_new": new})
        merged = read_asof(spark, base, 2, merge_schema=True)
        assert set(merged.columns) == {"k", "amt", "prio"}
        rows = {r["k"]: r["prio"] for r in merged.collect()}
        assert rows == {1: None, 2: "HIGH"}
        # pre-evolution version: old schema only
        assert set(read_asof(spark, base, 1, merge_schema=True).columns) == {
            "k", "amt"
        }
        # strict default: divergent COMMITTED schemas raise the named
        # error (Spark's own inference would silently NULL-fill or drop
        # prio depending on which file won schema inference)
        with _pytest.raises(ValueError, match="divergent committed"):
            read_asof(spark, base, 2)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_cdc_merge_snapshot_oracle_parity(spark):
    from data_engineer_development_spark.queries.warehouse_ops import (
        _CDC_MERGE_SNAPSHOT_SQL,
        q_cdc_merge_snapshot,
    )

    _parity(
        spark,
        "cdc_merge_snapshot",
        q_cdc_merge_snapshot,
        _CDC_MERGE_SNAPSHOT_SQL,
    )


def test_merge_cdc_routes_all_three_materializations(spark):
    """One merge_cdc commit: update keys rewrite ONLY their file,
    delete keys on an untouched file become a deletion vector (no
    rewrite), unmatched keys land in one insert file, pre-merge reads
    are invariant, and an upsert∩delete key clash fails loudly before
    committing."""
    from data_engineer_development_spark.operators.snapshots import (
        append_snapshot,
        live_files,
        merge_cdc,
        read_asof,
    )

    base = os.path.join(tempfile.gettempdir(), f"mcdc-{uuid.uuid4().hex}")
    try:
        rows = spark.range(20).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("val")
        )
        append_snapshot(
            spark, base, 1,
            {
                "lo": rows.filter("k < 10"),
                "hi": rows.filter("k >= 10"),
            },
        )
        # updates hit only 'lo'; deletes hit only 'hi'; inserts are new
        updates = spark.range(2, 5).select(
            F.col("id").alias("k"), F.lit(-1).cast("long").alias("val")
        )
        inserts = spark.range(100, 103).select(
            F.col("id").alias("k"), F.lit(7).cast("long").alias("val")
        )
        deletes = spark.range(15, 17).select(F.col("id").alias("k"))
        res = merge_cdc(
            spark, base, 2, updates.unionByName(inserts), deletes, "k"
        )
        assert res == {
            "rewritten": ["lo"],
            "inserted": ["m2_ins"],
            "dv": ["hi"],
            "scanned": ["hi", "lo"],  # no stats recorded: all live files
        }
        assert live_files(spark, base, 2) == ["hi", "m2_lo", "m2_ins"] or (
            live_files(spark, base, 2) == sorted(["hi", "m2_lo", "m2_ins"])
        )
        v2 = {
            r["k"]: r["val"]
            for r in read_asof(spark, base, 2, dv_key="k").collect()
        }
        # updated
        assert all(v2[k] == -1 for k in (2, 3, 4))
        # deleted
        assert 15 not in v2 and 16 not in v2
        # inserted
        assert all(v2[k] == 7 for k in (100, 101, 102))
        # untouched survivors
        assert v2[0] == 0 and v2[11] == 110
        assert len(v2) == 20 - 2 + 3
        # pre-merge version invariant
        v1 = {
            r["k"]: r["val"]
            for r in read_asof(spark, base, 1, dv_key="k").collect()
        }
        assert len(v1) == 20 and v1[15] == 150 and v1[3] == 30

        with pytest.raises(ValueError, match="both upserts and deletes"):
            merge_cdc(
                spark, base, 3,
                spark.range(1).select(
                    F.col("id").alias("k"), F.lit(0).alias("val")
                ),
                spark.range(1).select(F.col("id").alias("k")),
                "k",
            )
        with pytest.raises(ValueError, match="empty batch"):
            merge_cdc(spark, base, 3, None, None, "k")
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_append_snapshot_dvs_commit_atomically_and_validate(spark):
    """append_snapshot's dvs form: dv without dv_key and dv-on-removed
    both fail loudly; a combined add+remove+dv version reads correctly
    and the dv rows share the version's single log batch."""
    from data_engineer_development_spark.operators.snapshots import (
        append_snapshot,
        read_asof,
        snapshot_log,
    )

    base = os.path.join(tempfile.gettempdir(), f"advs-{uuid.uuid4().hex}")
    try:
        rows = spark.range(10).select(F.col("id").alias("k"))
        append_snapshot(spark, base, 1, {"a": rows.filter("k < 5"),
                                         "b": rows.filter("k >= 5")})
        with pytest.raises(ValueError, match="without dv_key"):
            append_snapshot(
                spark, base, 2, dvs={"a": rows.filter("k = 0")}
            )
        with pytest.raises(ValueError, match="removed file"):
            append_snapshot(
                spark, base, 2,
                removes=["a"],
                dvs={"a": rows.filter("k = 0")},
                dv_key="k",
            )
        append_snapshot(
            spark, base, 2,
            adds={"c": spark.range(100, 102).select(F.col("id").alias("k"))},
            removes=["b"],
            dvs={"a": rows.filter("k = 0")},
            dv_key="k",
        )
        got = sorted(
            r["k"] for r in read_asof(spark, base, 2, dv_key="k").collect()
        )
        assert got == [1, 2, 3, 4, 100, 101]
        v2 = snapshot_log(spark, base).filter("version = 2").collect()
        assert sorted((r["action"], r["file_id"]) for r in v2) == [
            ("add", "c"), ("dv", "a"), ("remove", "b"),
        ]
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_snapshot_maintenance_plan_oracle_parity(spark):
    from data_engineer_development_spark.queries.warehouse_ops import (
        _SNAPSHOT_MAINTENANCE_SQL,
        q_snapshot_maintenance_plan,
    )

    _parity(
        spark,
        "snapshot_maintenance_plan",
        q_snapshot_maintenance_plan,
        _SNAPSHOT_MAINTENANCE_SQL,
    )


def test_maintenance_plan_is_dry_run(spark):
    """The plan must not delete anything: after q's fixture logic runs
    against a persistent base, expirable files still exist on disk.
    (Re-built inline since the query cleans its temp dir.)"""
    from data_engineer_development_spark.operators.snapshots import (
        append_snapshot,
        expire_versions,
        live_files,
        read_asof,
    )

    base = os.path.join(tempfile.gettempdir(), f"dry-{uuid.uuid4().hex}")
    try:
        rows = spark.range(10).select(F.col("id").alias("k"))
        append_snapshot(spark, base, 1, {"a": rows})
        append_snapshot(spark, base, 2, {"b": rows}, removes=["a"])
        dead = expire_versions(spark, base, 2, delete=False)
        assert dead == ["a"]
        assert os.path.isdir(os.path.join(base, "data", "a"))
        # a version-1 read still works after the dry run
        assert read_asof(spark, base, 1).count() == 10
        assert live_files(spark, base, 2) == ["b"]
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_stream_cdc_merge_snapshot_oracle_parity(spark):
    from data_engineer_development_spark.queries.warehouse_ops import (
        _STREAM_CDC_MERGE_SQL,
        q_stream_cdc_merge_snapshot,
    )

    _parity(
        spark,
        "stream_cdc_merge_snapshot",
        q_stream_cdc_merge_snapshot,
        _STREAM_CDC_MERGE_SQL,
    )


def test_stream_cdc_merge_is_split_invariant_and_versioned(spark):
    """The SAME change set applied as one batch and as many batches
    yields identical head content (the unique-key split-invariance
    contract), and the multi-batch run leaves a multi-version history —
    each micro-batch one atomic commit."""
    from data_engineer_development_spark.operators.snapshots import (
        append_snapshot,
        merge_cdc,
        read_asof,
        snapshot_log,
    )

    def build(n_batches: int) -> tuple[dict, int]:
        base = os.path.join(
            tempfile.gettempdir(), f"splt-{uuid.uuid4().hex}"
        )
        try:
            rows = spark.range(10).select(
                F.col("id").alias("k"), (F.col("id") * 10).alias("val")
            )
            append_snapshot(spark, base, 1, {"a": rows})
            # changes: update k in {1,2}, delete k=3, insert k in {50,51}
            ups = spark.createDataFrame(
                [(1, -1), (2, -2), (50, 500), (51, 510)], "k long, val long"
            )
            dels = spark.range(3, 4).select(F.col("id").alias("k"))
            batches: list[tuple] = []
            if n_batches == 1:
                batches = [(ups, dels)]
            else:
                batches = [
                    (ups.filter("k = 1"), None),
                    (None, dels),
                    (ups.filter("k >= 50"), None),
                    (ups.filter("k = 2"), None),
                ]
            v = 1
            for u, d in batches:
                v += 1
                merge_cdc(spark, base, v, u, d, "k")
            head = {
                r["k"]: r["val"]
                for r in read_asof(spark, base, 2**61, dv_key="k").collect()
            }
            n_versions = snapshot_log(spark, base).agg(
                F.max("version")
            ).collect()[0][0]
            return head, int(n_versions)
        finally:
            shutil.rmtree(base, ignore_errors=True)

    one, v1 = build(1)
    many, vn = build(4)
    assert one == many
    assert v1 == 2 and vn == 5
    assert one[1] == -1 and one[2] == -2 and 3 not in one
    assert one[50] == 500 and one[51] == 510 and one[0] == 0


def test_apply_compaction_reads_through_deletion_vectors(spark):
    """Review r16: compacting a file that carries deletion vectors must
    materialize the deletes into the rewrite — a raw read would
    resurrect them (the vectors attach to the removed member). dv_key
    is REQUIRED the moment any member carries a vector; schema-divergent
    groups are refused manifest-only."""
    from data_engineer_development_spark.operators.snapshots import (
        append_snapshot,
        apply_compaction,
        read_asof,
    )

    base = os.path.join(tempfile.gettempdir(), f"cdv-{uuid.uuid4().hex}")
    try:
        rows = spark.range(10).select(F.col("id").alias("k"))
        append_snapshot(spark, base, 1, {"a": rows.filter("k < 5"),
                                         "b": rows.filter("k >= 5")})
        append_snapshot(
            spark, base, 2, dvs={"a": rows.filter("k = 1")}, dv_key="k"
        )
        with pytest.raises(ValueError, match="deletion vectors"):
            apply_compaction(spark, base, 3, [["a", "b"]])
        new = apply_compaction(spark, base, 3, [["a", "b"]], dv_key="k")
        assert new == ["compact3_0"]
        got = sorted(r["k"] for r in read_asof(spark, base, 3).collect())
        assert got == [0, 2, 3, 4, 5, 6, 7, 8, 9]  # 1 stays deleted
        # pre-compaction versions still correct
        assert read_asof(spark, base, 2, dv_key="k").count() == 9
        assert read_asof(spark, base, 1).count() == 10

        # schema-divergent group: refused manifest-only
        append_snapshot(
            spark, base, 4,
            {"w": spark.range(3).select(
                F.col("id").alias("k"), F.lit("x").alias("extra"))},
        )
        with pytest.raises(ValueError, match="mixes committed schemas"):
            apply_compaction(spark, base, 5, [["compact3_0", "w"]])
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_merge_cdc_noop_batch_and_dv_deleted_key_routing(spark):
    """Review r16: a batch matching nothing (deletes of absent keys) is
    a routine CDC no-op — no commit, no version burned, no error; and an
    upsert of a DV-deleted key routes as an INSERT (the key is logically
    absent), never a pointless rewrite of the file that once held it."""
    from data_engineer_development_spark.operators.snapshots import (
        append_snapshot,
        merge_cdc,
        read_asof,
        snapshot_log,
    )

    base = os.path.join(tempfile.gettempdir(), f"noop-{uuid.uuid4().hex}")
    try:
        rows = spark.range(10).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("val")
        )
        append_snapshot(spark, base, 1, {"a": rows})
        # no-op: delete keys that don't exist
        res = merge_cdc(
            spark, base, 2, None,
            spark.range(100, 103).select(F.col("id").alias("k")), "k",
        )
        assert res == {"rewritten": [], "inserted": [], "dv": [],
                       "scanned": ["a"]}
        assert snapshot_log(spark, base).agg(
            F.max("version")
        ).collect()[0][0] == 1  # no version burned

        # DV-delete k=7, then upsert it: must route as an INSERT
        append_snapshot(
            spark, base, 2, dvs={"a": rows.filter("k = 7")}, dv_key="k"
        )
        res = merge_cdc(
            spark, base, 3,
            spark.createDataFrame([(7, -7)], "k long, val long"),
            None, "k",
        )
        assert res == {"rewritten": [], "inserted": ["m3_ins"], "dv": [],
                       "scanned": ["a"]}
        head = {
            r["k"]: r["val"]
            for r in read_asof(spark, base, 3, dv_key="k").collect()
        }
        assert head[7] == -7 and len(head) == 10
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_snapshot_log_checkpoint_oracle_parity(spark):
    from data_engineer_development_spark.queries.warehouse_ops import (
        _SNAPSHOT_LOG_CKPT_SQL,
        q_snapshot_log_checkpoint,
    )

    _parity(
        spark,
        "snapshot_log_checkpoint",
        q_snapshot_log_checkpoint,
        _SNAPSHOT_LOG_CKPT_SQL,
    )


def test_checkpoint_log_compacts_and_preserves_history(spark):
    """checkpoint_log: one checkpoint file carries the FULL action
    history (time travel to any version still exact), the covered tail
    part files are deleted, post-checkpoint commits land in a fresh
    tail, a second checkpoint folds them in, and the crash window
    (checkpoint written, tail not yet compacted) double-reads without
    double-counting."""
    import glob

    from data_engineer_development_spark.operators.snapshots import (
        append_snapshot,
        checkpoint_log,
        live_files,
        read_asof,
        snapshot_log,
    )

    base = os.path.join(tempfile.gettempdir(), f"ckpt-{uuid.uuid4().hex}")
    try:
        rows = spark.range(30).select(F.col("id").alias("k"))
        append_snapshot(spark, base, 1, {"a": rows.filter("k < 10")})
        append_snapshot(spark, base, 2, {"b": rows.filter("k >= 10 and k < 20")})
        append_snapshot(spark, base, 3, {"c": rows.filter("k >= 20")},
                        removes=["a"])
        n_actions = snapshot_log(spark, base).count()
        assert n_actions == 4

        def parts() -> int:
            return len(glob.glob(os.path.join(base, "_log", "part-*.parquet")))

        assert parts() == 3
        assert checkpoint_log(spark, base) == 3
        assert parts() == 0
        # history intact through the checkpoint
        assert snapshot_log(spark, base).count() == n_actions
        assert live_files(spark, base, 1) == ["a"]
        assert live_files(spark, base, 3) == ["b", "c"]
        assert read_asof(spark, base, 2).count() == 20
        assert read_asof(spark, base, 3).count() == 20

        # post-checkpoint commit lands in a fresh tail; second
        # checkpoint folds it in
        append_snapshot(spark, base, 4, {"d": rows.filter("k < 5")})
        assert parts() == 1
        assert snapshot_log(spark, base).count() == n_actions + 1
        assert checkpoint_log(spark, base) == 4
        assert parts() == 0
        assert read_asof(spark, base, 4).count() == 25

        # crash window: rows present in BOTH checkpoint and tail must
        # not double-count (snapshot_log DISTINCTs) — simulate by
        # re-appending the EXACT duplicate of a row the checkpoint
        # already covers
        dup = snapshot_log(spark, base).filter(
            "version = 4 and action = 'add'"
        )
        dup.coalesce(1).write.mode("append").parquet(
            os.path.join(base, "_log")
        )
        assert snapshot_log(spark, base).count() == n_actions + 1
        assert read_asof(spark, base, 4).count() == 25
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _commit_case(spark, base: str, op: str):
    """``(commit(tag), expected head rows)`` for one commit operator at
    version 2 over the four-file v1 table of
    :func:`test_failed_overlapped_write_leaves_prior_version`. Each
    commit lands two or three data files in one overlapped write round;
    ``tag`` names the new file ids, so a retry never collides with the
    failed attempt's debris."""
    from data_engineer_development_spark.operators.snapshots import (
        append_snapshot,
        apply_compaction,
        merge_cdc,
    )

    pre = {k: k * 10 for k in range(20)}
    if op == "append_snapshot":
        new = spark.range(100, 103).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("val")
        )
        return (
            lambda tag: append_snapshot(spark, base, 2, {
                f"{tag}{k}": new.filter(f"k = {k}") for k in range(100, 103)
            }),
            sorted((pre | {k: k * 10 for k in range(100, 103)}).items()),
        )
    if op == "apply_compaction":
        return (
            lambda tag: apply_compaction(
                spark, base, 2, [["f0", "f1"], ["f2", "f3"]], prefix=tag
            ),
            sorted(pre.items()),
        )
    ups = spark.createDataFrame(
        [(2, -1), (17, -1), (100, -1)], "k long, val long"
    )
    return (
        lambda tag: merge_cdc(spark, base, 2, ups, None, "k", prefix=tag),
        sorted((pre | {2: -1, 17: -1, 100: -1}).items()),
    )


@pytest.mark.parametrize(
    "op,k,n_writes",
    [
        ("append_snapshot", 2, 3),
        ("apply_compaction", 1, 2),
        ("merge_cdc", 3, 3),
    ],
)
def test_failed_overlapped_write_leaves_prior_version(
    spark, monkeypatch, op, k, n_writes
):
    """Fault injection in the overlapped per-file writes of a commit:
    the k-th data-file write raises while its siblings land. The failed
    version must have no log row, reads at the prior version and at the
    head both return the pre-commit rows exactly, every landed sibling
    is reported as an orphan, and a retry at the SAME version with fresh
    file ids commits and reads correctly."""
    import threading

    from pyspark.sql.readwriter import DataFrameWriter

    from data_engineer_development_spark.operators.snapshots import (
        append_snapshot,
        orphan_files,
        read_asof,
        snapshot_log,
    )

    def rows(v: int) -> list:
        return sorted(
            (r["k"], r["val"]) for r in read_asof(spark, base, v).collect()
        )

    base = _base()
    data_root = os.path.join(base, "data") + os.sep
    real_parquet = DataFrameWriter.parquet
    lock = threading.Lock()
    state = {"armed": True, "n": 0}
    landed: list[str] = []

    def parquet(self, path, *args, **kwargs):
        if not state["armed"] or not str(path).startswith(data_root):
            return real_parquet(self, path, *args, **kwargs)
        with lock:
            state["n"] += 1
            n = state["n"]
        if n == k:
            raise RuntimeError(f"injected failure of data write {k}")
        real_parquet(self, path, *args, **kwargs)
        with lock:
            landed.append(os.path.basename(path))

    try:
        rows20 = spark.range(20).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("val")
        )
        append_snapshot(spark, base, 1, {
            f"f{i}": rows20.filter(f"k >= {5 * i} and k < {5 * i + 5}")
            for i in range(4)
        })
        pre = rows(1)
        commit, expected = _commit_case(spark, base, op)

        monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
        with pytest.raises(RuntimeError, match="injected failure"):
            commit("x")
        state["armed"] = False
        assert state["n"] == n_writes and len(landed) == n_writes - 1

        assert snapshot_log(spark, base).filter("version = 2").count() == 0
        assert rows(1) == pre
        assert rows(2**62) == pre
        assert orphan_files(spark, base) == sorted(landed)

        commit("y")
        assert rows(2) == rows(2**62) == expected
        assert rows(1) == pre
        assert orphan_files(spark, base) == sorted(landed)
    finally:
        shutil.rmtree(base, ignore_errors=True)
