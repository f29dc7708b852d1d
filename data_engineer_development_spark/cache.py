"""Tracked persist — scoped release of operator-internal caches.

Several operators persist a load-bearing intermediate (the two-pass rank's
sorted+id'd frame in ``operators/ranking.py``, the posting/signature tables
in ``operators/dedup.py`` and ``queries/dedup.py``): correctness requires
both consuming branches to read ONE materialization, because the
intermediates carry nondeterministic projections (sampled range boundaries,
``monotonically_increasing_id``) that two independent recomputations need
not agree on. Those persists cannot be unpersisted inside the operator —
the action that consumes the returned DataFrame happens later, in the
caller/driver.

Previously release relied on callers invoking ``spark.catalog.clearCache()``
— global, evicting unrelated cached data, and easy to forget (each missed
sweep accumulates one cached copy of the input per call). This module
scopes it: operators register what they persist via :func:`track_persist`,
and a sweep releases exactly that set via :func:`release_tracked` after each
entry materializes. ``bench.py`` and ``tests/oracle_harness.py`` call it
between entries; ``tests/test_cache.py`` proves no cached RDD survives an
entry without any ``clearCache``.

At 100 TB nothing changes: persist spills to disk per partition, and the
release is one unpersist per tracked handle — control-plane only.

Scratch data has one lifetime rule. Every checkpoint goes through
:func:`local_checkpoint_tracked`, so :func:`release_tracked` frees it; a
raw ``localCheckpoint()`` would park blocks that only JVM GC frees. Every
scratch directory a query lands files in is a
``tempfile.TemporaryDirectory``, and a result read from it is checkpointed
inside the ``with`` block, before the files go.

The module also owns the engine's one driver thread pool, :func:`overlap`:
overlapped jobs can run tracked checkpoints, whose bookkeeping therefore
serializes on a lock held here.
"""

from __future__ import annotations

import threading
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []

#: JVM RDD handles holding localCheckpoint block sets (see
#: local_checkpoint_tracked) — released alongside _TRACKED.
_TRACKED_RDDS: list = []

#: Serializes local_checkpoint_tracked's getPersistentRDDs snapshot-diff:
#: two checkpoints materializing in the same window (overlapped driver
#: threads) would each claim the other's blocks.
_CKPT_LOCK = threading.Lock()

#: Driver threads for overlap — medallion's 15 dimension writes are the
#: widest fan-out in the package.
_OVERLAP_MAX = 8


def overlap(fns: list) -> list:
    """Run independent Spark actions concurrently from a small driver
    thread pool (optimization guide §2.6: actions are only sequential
    because driver code calls them sequentially; overlapping independent
    jobs lets each job's tasks back-fill capacity the others' scheduling
    gaps and stragglers leave idle). Results in input order; a single
    function runs inline; the first exception (in input order)
    propagates only after every submitted function has settled, so a
    failed sibling never leaves a half-running write racing the
    caller's cleanup. Each function runs under a clone of the caller's
    Spark local properties (job group, description), taken on submit as
    ``pyspark.InheritableThread`` does, so its jobs are attributed to the
    caller's query."""
    if len(fns) <= 1:
        return [fn() for fn in fns]
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context

    def inherit(fn):
        if sc is None:
            return fn
        props = sc._jsc.sc().getLocalProperties().clone()

        def run():
            sc._jsc.sc().setLocalProperties(props)
            return fn()

        return run

    with ThreadPoolExecutor(max_workers=min(_OVERLAP_MAX, len(fns))) as pool:
        futs = [pool.submit(inherit(fn)) for fn in fns]
        return [f.result() for f in futs]


def local_checkpoint_tracked(df: DataFrame, free: list | None = None):
    """``df.localCheckpoint(eager=True)`` plus registration of the new
    checkpoint's RDD blocks for scoped release — returns
    ``(checkpointed_df, handles)``.

    ``localCheckpoint`` truncates the logical plan (the point — see
    ``operators/bpe.py``'s measured O(k²) Catalyst term) but parks its
    blocks as a PERSISTENT RDD that neither ``DataFrame.unpersist`` nor
    ``spark.catalog.clearCache`` frees (both talk to the SQL cache
    manager; the checkpoint lives at the RDD layer). Untracked, every
    checkpoint generation would leak until JVM GC — tests/test_cache.py
    sweeps ``getPersistentRDDs`` to zero between entries precisely to
    catch that class. The new blocks are found by snapshot-diffing
    ``getPersistentRDDs`` around the eager checkpoint, under a lock so
    checkpoints running in :func:`overlap`'s threads take turns and
    never see each other's blocks, KEEPING only
    locally-checkpointed RDDs (``isLocallyCheckpointed`` on the JVM
    handle): the eager action may be the FIRST action over an upstream
    ``track_persist`` SQL cache, whose cache RDD then also first appears
    inside the diff window — without the filter that handle would be
    misattributed as a checkpoint generation and unpersisted early when
    passed back via ``free=`` (ADVICE r12; pinned by
    tests/test_cache.py). Checkpoint handles are freed by
    :func:`release_tracked` AFTER the consuming action — freeing earlier
    would destroy the only copy (lineage is truncated; a post-free
    action fails, verified empirically).

    ``free``: handles of a SUPERSEDED earlier generation to release
    immediately — once the new checkpoint has materialized (eager), the
    previous generation's blocks are dead, and long trainings must not
    stack k/BPE_PERSIST_EVERY vocab-sized copies.
    """
    jsc = df.sparkSession.sparkContext._jsc.sc()

    def _rdds() -> dict:
        m = jsc.getPersistentRDDs()
        it = m.iterator()
        out = {}
        while it.hasNext():
            t = it.next()
            out[t._1()] = t._2()
        return out

    with _CKPT_LOCK:
        before = set(_rdds())
        out = df.localCheckpoint(eager=True)
        handles = [
            r
            for i, r in _rdds().items()
            if i not in before and r.isLocallyCheckpointed()
        ]
        _TRACKED_RDDS.extend(handles)
    for h in free or []:
        try:
            h.unpersist(True)
        except Exception:  # noqa: BLE001 — already freed / dead session
            pass
        if h in _TRACKED_RDDS:
            _TRACKED_RDDS.remove(h)
    return out, handles


def track_persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` plus registration for scoped release.

    Use for every operator-internal persist whose lifetime outlasts the
    operator call (the consuming action happens in the caller). Paired
    persist/unpersist inside one function (e.g. ``operators/graph.py``'s
    iteration frames) doesn't need tracking — it already releases itself.
    """
    out = df.persist()
    _TRACKED.append(out)
    return out


def release_tracked() -> int:
    """Unpersist every tracked DataFrame and checkpoint RDD; returns how
    many were released.

    Safe to call at any quiesce point (between registry entries, after a
    bench measurement). DataFrame handles release blocking=False (Spark
    drops SQL-cache blocks asynchronously — they are dead to correctness
    the moment the consuming action finished); checkpoint RDD handles
    release BLOCKING because the observable contract is "zero persistent
    RDDs after release" and an async drop would race the sweep's count.
    """
    n = 0
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:  # noqa: BLE001 — a dead session can't hold cache
            pass
    while _TRACKED_RDDS:
        h = _TRACKED_RDDS.pop()
        try:
            # blocking: the test-visible contract is "zero persistent
            # RDDs after release" — async would race the sweep's count
            h.unpersist(True)
            n += 1
        except Exception:  # noqa: BLE001 — a dead session can't hold cache
            pass
    return n
