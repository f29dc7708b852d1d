"""Structured Streaming operators (SURVEY.md §2.10 — extension scope).

The reference's only stream surface is a fire-and-forget daily publish
(transfer_sercom_files.py:102-123) — no watermarks, no event-time windows.
These operators extend the engine to the streaming semantics a training-data
pipeline needs: event-time tumbling/sliding windows with late-data
watermarks, and session windows (built-in ``session_window`` since
Spark 3.2).

Every transformation here takes a (possibly streaming) DataFrame and returns
one — identical code paths serve ``spark.read`` (batch backfill) and
``spark.readStream`` (live), which is the Spark-idiomatic way to keep the
two consistent. Aggregations are keyed by (window, event_type): state size
is O(#open windows × #types), independent of stream volume — the property
that matters when the stream is 100 TB/day.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Parent dir for streaming checkpoints: RAM-backed when the host has it;
#: None lets ``tempfile`` pick its temp dir at call time.
_CKPT_ROOT = "/dev/shm" if os.access("/dev/shm", os.W_OK) else None


def _as_stream_dir(src: str) -> str:
    """The file-stream source requires a directory; expose a single-file
    table through a symlink dir (a real deployment streams from a directory
    of arriving part files anyway). The dir is keyed by an md5 of ``src``
    because ``str`` ``hash()`` is salted per process: every process must
    resolve, and reuse, the same dir for the same table."""
    name, _ = os.path.splitext(os.path.basename(src))
    digest = hashlib.md5(src.encode()).hexdigest()[:15]
    d = os.path.join(tempfile.gettempdir(), f"stream-{name}-{digest}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, os.path.basename(src))
    # lexists (not exists): a stale symlink whose target vanished must be
    # repaired, not tripped over; the try/except closes the remaining
    # check-to-symlink race between two processes streaming the same table.
    if os.path.lexists(link) and (
        not os.path.islink(link) or os.readlink(link) != src
    ):
        os.unlink(link)
    if not os.path.lexists(link):
        try:
            os.symlink(src, link)
        except FileExistsError:
            assert os.readlink(link) == src, (link, src)
    return d


def stream_table(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """File-source stream over any testdata parquet table, schema pinned
    from the batch reader so batch and stream plans agree exactly. For
    ``events`` use :func:`stream_events` (adds the nanos→micros timestamp
    normalization watermarks need)."""
    src = f"{sf_dir}/{table}.parquet"
    if os.path.isfile(src):
        src = _as_stream_dir(src)
    schema = spark.read.parquet(f"{sf_dir}/{table}.parquet").schema
    return spark.readStream.format("parquet").schema(schema).load(src)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table (parquet dir or single file).

    The testdata events.parquet stores TIMESTAMP(NANOS) — same
    physical-type normalization as the batch loader (nanos-as-long or
    timestamp_ntz → LTZ) so batch and stream agree bit-for-bit;
    watermarks additionally require LTZ, which normalize_event_ts
    guarantees.
    """
    from data_engineer_development_spark.sources.readers import normalize_event_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return normalize_event_ts(stream_table(spark, sf_dir, "events"))


def tumbling_counts(
    events: DataFrame, width: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Event-time tumbling window: count + sum(value) per (window, type).
    The watermark bounds state: windows older than max(event time) − 2 h are
    finalized and evicted."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    width: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding event-time window (each event lands in width/slide windows)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
        )
    )


def sessionized(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session windows per user: events within ``gap`` of each other merge
    into one session (dynamic-length state, closed by the watermark)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


#: RocksDB state store — the 100×-state configuration. Keyed state moves
#: off-heap onto executor-local disk, so state volume is bounded by disk
#: (changelog-checkpointed), not executor heap. MEASURED locally
#: (local[32], sf0.1, stream_stream_join, 3-run medians, idle machine):
#: default HDFSBacked 2.71 s vs RocksDB 3.07 s — the JNI + disk write path
#: loses at small state, so RocksDB is an explicit opt-in for streams whose
#: state outgrows memory, not the default.
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def run_to_memory_sink(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "complete",
    state_partitions: int = 8,
    assert_single_batch: bool = False,
    state_store_provider: str | None = None,
    no_data_batches: bool = True,
    progress_out: list | None = None,
) -> None:
    """Drive a streaming plan to completion with Trigger.AvailableNow into an
    in-memory table (test/bench harness path).

    ``progress_out``: optional list extended with the query's
    ``recentProgress`` dicts after termination — the only window into
    per-batch state-operator metrics (rows added/removed/total), which
    tests use to prove timer-driven eviction actually FIRED (output
    alone can't show a silent ``state.remove()``).

    ``state_partitions`` bounds the stateful-operator partition count (it is
    frozen into the checkpoint from ``spark.sql.shuffle.partitions`` at first
    start). State partitioning is a throughput/state-volume decision, NOT the
    batch shuffle setting: every micro-batch pays a per-partition state-store
    open/commit, so 32 batch partitions cost 4x the wall of 8 on a stream
    whose state fits in far fewer (measured 8.3 s -> 2.2 s on the interval
    join at sf0.1). At production volume, raise it to match state size —
    it's a knob per stream, not a global.

    ``assert_single_batch`` is for append-mode queries whose OUTPUT is only
    exact when the whole source drains in one micro-batch (e.g. a long
    watermark that would drop late rows arriving in a later batch): rather
    than silently emitting a subset, fail loudly if the source ever splits
    (more part files, maxFilesPerTrigger set). Update-mode snapshot streams
    don't need it — post-process those with ``latest_snapshots`` instead.

    Checkpoints go to RAM-backed scratch (/dev/shm) when available and are
    removed on exit. Measured neutral on wall time at sf0.1 (the page cache
    absorbs /tmp's WAL/state-delta writes; interleaved A/B min-of-5 within
    noise both ways) — the win is hygiene: no checkpoint litter on disk and
    no dependency on /tmp's backing store. A production deployment points
    ``checkpointLocation`` at durable shared storage instead — the sink
    TABLE is what callers consume; the checkpoint here is deliberately
    ephemeral.

    ``no_data_batches=False`` skips the trailing empty micro-batch
    (``spark.sql.streaming.noDataMicroBatches.enabled``), which exists to
    advance the watermark so APPEND-mode windowed aggregates can emit
    closed windows and outer joins can emit their NULL sides. Operators
    that emit eagerly — inner stream-stream joins, update-mode stateful
    maps with NoTimeout — produce identical output without it, and the
    empty batch is pure constant cost (state-store open/scan/commit ×
    partitions + a replan: measured ~0.7 s on the sf0.1 interval join).
    Leave it ON for append-mode window aggregates and anything with
    timeouts/timers — there it is load-bearing, not overhead.
    """
    finish_memory_sink(
        start_to_memory_sink(
            stream_df,
            name,
            output_mode=output_mode,
            state_partitions=state_partitions,
            assert_single_batch=assert_single_batch,
            state_store_provider=state_store_provider,
            no_data_batches=no_data_batches,
            progress_out=progress_out,
        )
    )


def start_to_memory_sink(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "complete",
    state_partitions: int = 8,
    assert_single_batch: bool = False,
    state_store_provider: str | None = None,
    no_data_batches: bool = True,
    progress_out: list | None = None,
) -> dict:
    """Start (but do not await) a memory-sink AvailableNow run; pair with
    :func:`finish_memory_sink`. Session confs (shuffle partitions → state
    partitioning, state-store provider, no-data micro-batches) are frozen
    into the query when ``.start()`` clones the session, so they are set
    before and restored immediately after the start call — which is what
    makes CONCURRENT streams safe to launch back-to-back from one driver
    thread (guide §2.6: independent jobs overlap; each stream's batches
    back-fill executor capacity the other's stragglers leave idle), each
    with its own frozen conf set."""
    spark = stream_df.sparkSession
    ckpt = tempfile.TemporaryDirectory(
        prefix=f"ckpt-{name}-", dir=_CKPT_ROOT, ignore_cleanup_errors=True
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    prev_prov = spark.conf.get(prov_key, None)
    if state_store_provider:
        # per-stream knob (e.g. ROCKSDB_PROVIDER when state outgrows heap);
        # the provider is frozen into the query at start, so set-and-restore
        # around .start() is safe for concurrent batch work
        spark.conf.set(prov_key, state_store_provider)
    ndb_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev_ndb = spark.conf.get(ndb_key, None)
    if not no_data_batches:
        spark.conf.set(ndb_key, "false")
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt.name)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        if state_store_provider:
            if prev_prov is None:
                spark.conf.unset(prov_key)
            else:
                spark.conf.set(prov_key, prev_prov)
        if not no_data_batches:
            if prev_ndb is None:
                spark.conf.unset(ndb_key)
            else:
                spark.conf.set(ndb_key, prev_ndb)
    return {
        "query": q,
        "name": name,
        "ckpt": ckpt,
        "assert_single_batch": assert_single_batch,
        "progress_out": progress_out,
    }


def finish_memory_sink(run: dict) -> None:
    """Await a :func:`start_to_memory_sink` run, apply its post-run checks,
    and clean up its checkpoint."""
    q = run["query"]
    try:
        q.awaitTermination()
        if run["progress_out"] is not None:
            run["progress_out"].extend(q.recentProgress)
        if run["assert_single_batch"]:
            data_batches = [
                p
                for p in q.recentProgress
                if p.get("numInputRows", 0) > 0
            ]
            if len(data_batches) != 1:
                raise RuntimeError(
                    f"stream {run['name']!r} processed {len(data_batches)} "
                    "non-empty micro-batches but this query's semantics "
                    "(watermark vs. late rows) require exactly one; "
                    "unset maxFilesPerTrigger / use a single source file"
                )
    finally:
        run["ckpt"].cleanup()


def latest_snapshots(df: DataFrame, keys: list[str], order_col: str) -> DataFrame:
    """Collapse an update-mode memory-sink table to the LATEST snapshot per
    key. Update mode appends each micro-batch's re-emission of a changed key,
    so when the source splits into several batches the table holds stale
    intermediate rows (e.g. an open session at n=3 and again at n=5). The
    final state of a key is the row with the greatest ``order_col`` (a
    monotone progress column such as the event count) — keep exactly that
    row, making the result batch-split-independent."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
