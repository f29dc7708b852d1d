"""Contract entries for non-relational operators (custom streaming state,
the KV log, multimodal codec plumbing). Entries whose *output* is
SQL-expressible carry a real oracle (kv_store_roundtrip); the rest are
registered in ``queries()`` WITHOUT an ``oracle_sql()`` pair — the driver
records the sanctioned weaker rows-only check for those
(__spark_entry__.py contract; SURVEY.md §5). Their exact semantics are
pinned by dedicated tests instead (tests/test_scale_ops.py,
tests/test_kv_channel.py, tests/test_multimodal.py)."""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_engineer_development_spark.sources import load_table


def q_streaming_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState keyed accumulator driven to completion with
    Trigger.AvailableNow; returns the final state table."""
    from data_engineer_development_spark.streaming import stream_events
    from data_engineer_development_spark.streaming.stateful import (
        running_user_totals,
    )
    from data_engineer_development_spark.streaming.windows import (
        latest_snapshots,
        run_to_memory_sink,
    )

    name = f"q_state_{uuid.uuid4().hex[:8]}"
    # default state partitions: the applyInPandasWithState stage runs one
    # Python worker per partition, so unlike the JVM-state streams, fewer
    # partitions LOSE here (alternating A/B at sf0.1: 2.2 s @8 vs 2.8 s @4).
    # no_data_batches=False: the kernel is NoTimeout and update-mode emits
    # every touched key in the data batch itself, so the trailing empty
    # watermark batch adds nothing but per-partition state-store round
    # trips (and a Python worker round per partition here).
    run_to_memory_sink(
        running_user_totals(stream_events(spark, sf_dir)),
        name,
        output_mode="update",
        no_data_batches=False,
    )
    # update mode appends each batch's re-emission of a changed key; keep
    # only the final (highest-count) snapshot so a batch split can't leave
    # stale intermediate totals in the result
    return latest_snapshots(
        spark.table(name), ["user_id"], "n_events"
    ).orderBy("user_id")


def q_tws_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformWithStateInPandas (Spark 4 StatefulProcessor) driven to
    completion; the order-independent accumulators (count/max/max-ts) make
    the drained state equal the batch GROUP BY (_TWS_USER_STATS_SQL).

    NOT in QUERIES: the TWS state server requires a working
    google.protobuf, which this container lacks (ImportError: cannot
    import name 'descriptor') — the query crashes at stream start through
    no fault of the plan. tests/test_streaming.py carries the
    skip-if-unavailable coverage; register here once the env has
    protobuf."""
    from data_engineer_development_spark.streaming import stream_events
    from data_engineer_development_spark.streaming.stateful import (
        user_stats_tws,
    )
    from data_engineer_development_spark.streaming.windows import (
        latest_snapshots,
        run_to_memory_sink,
    )

    name = f"q_tws_{uuid.uuid4().hex[:8]}"
    run_to_memory_sink(
        user_stats_tws(stream_events(spark, sf_dir)),
        name,
        output_mode="update",
    )
    return latest_snapshots(
        spark.table(name), ["user_id"], "n_events"
    ).orderBy("user_id")


_TWS_USER_STATS_SQL = """
SELECT user_id, COUNT(*) AS n_events, MAX(value) AS max_value,
       MAX(ts) AS last_ts
FROM events GROUP BY user_id ORDER BY user_id
"""


def q_stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink pattern: each micro-batch MERGES per-user stats
    into an external parquet state store — the production "upsert to an
    external system" idiom (foreachBatch is the escape hatch Structured
    Streaming offers for sinks with no native connector; at scale the
    swap-directory store below becomes a Delta MERGE / KV multi-put, same
    shape). The merge state (count sum, max ts) is associative and
    commutative, so the final store equals the batch GROUP BY no matter
    how the source splits into batches — which is what the oracle pins."""
    import shutil

    from data_engineer_development_spark.cache import local_checkpoint_tracked
    from data_engineer_development_spark.streaming import stream_events
    from data_engineer_development_spark.streaming.windows import _CKPT_ROOT

    def upsert(batch_df, batch_id: int) -> None:
        sess = batch_df.sparkSession
        agg = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("ts").alias("last_ts"),
        )
        if os.path.exists(state_dir):
            merged = (
                sess.read.parquet(state_dir)
                .unionByName(agg)
                .groupBy("user_id")
                .agg(
                    F.sum("n_events").alias("n_events"),
                    F.max("last_ts").alias("last_ts"),
                )
            )
        else:
            merged = agg
        # parquet dirs aren't transactional: land the merge beside the
        # store, then atomically swap — the poor man's MERGE a real
        # deployment replaces with a transactional sink
        tmp = state_dir + ".tmp"
        merged.write.mode("overwrite").parquet(tmp)
        if os.path.exists(state_dir):
            shutil.rmtree(state_dir)
        os.rename(tmp, state_dir)

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    # RAM-backed ephemeral checkpoint, same rationale as run_to_memory_sink
    # (a real deployment points this at durable storage — the checkpoint is
    # what makes foreachBatch exactly-once across restarts)
    try:
        with tempfile.TemporaryDirectory(
            prefix="febu-", ignore_cleanup_errors=True
        ) as d, tempfile.TemporaryDirectory(
            prefix="febu-ckpt-", dir=_CKPT_ROOT, ignore_cleanup_errors=True
        ) as ckpt:
            state_dir = os.path.join(d, "state")
            q = (
                stream_events(spark, sf_dir)
                .select("user_id", "ts")
                .writeStream.foreachBatch(upsert)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return local_checkpoint_tracked(
                spark.read.parquet(state_dir).orderBy("user_id")
            )[0]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


_FOREACHBATCH_SQL = """
SELECT user_id, COUNT(*) AS n_events, MAX(ts) AS last_ts
FROM events GROUP BY user_id ORDER BY user_id
"""


def q_kv_store_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KV upsert/delete/resolve over a scratch store: seeds entities from the
    nation table, overwrites one, tombstones one, returns the resolved view.

    The seed/overwrite/tombstone sequence runs inside ``kv.batch()`` so the
    whole mutation history lands as ONE log segment (one Spark write job
    instead of three) — the write shape a 100 TB deployment would use.
    The expected resolved view IS SQL-expressible (nation minus the deleted
    key, with the overwrite applied), so this entry gets a real oracle."""
    from data_engineer_development_spark.kv import KVStore

    nations = load_table(spark, sf_dir, "nation").orderBy("n_nationkey").limit(5)
    with tempfile.TemporaryDirectory(
        prefix="kvq-", ignore_cleanup_errors=True
    ) as d:
        kv = KVStore(spark, d)
        with kv.batch():
            kv.put_many(
                "nation",
                {
                    str(r["n_nationkey"]): {"name": r["n_name"]}
                    for r in nations.collect()
                },
            )
            kv.put("nation", "0", {"name": "OVERWRITTEN"})
            kv.delete("nation", "1")
        resolved = [(e["key"], e["name"]) for e in kv.query("nation")]
    import pandas as pd

    # pandas+Arrow so the returned frame is a JVM LocalRelation (no Python
    # worker when the driver executes it)
    return spark.createDataFrame(
        pd.DataFrame(sorted(resolved), columns=["key", "name"]).astype("string")
    )


_KV_ROUNDTRIP_SQL = """
SELECT CAST(n_nationkey AS VARCHAR) AS key,
       CASE WHEN n_nationkey = 0 THEN 'OVERWRITTEN' ELSE n_name END AS name
FROM nation
WHERE n_nationkey < 5 AND n_nationkey <> 1
ORDER BY key
"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode → feature vectors, hash-checked against SQL.

    Each document becomes a genuine 16×16 P6 image colored by the first
    three md5(text) bytes (synth_solid_ppm_media); extract_features then
    actually parses the netpbm header and raster (operators/codecs.py) and
    recovers per-channel means — which the DuckDB oracle computes
    independently from md5 hex, so a codec bug (offset, channel order,
    header parse) breaks the hash match."""
    from data_engineer_development_spark.operators import multimodal as M

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    media = M.synth_solid_ppm_media(
        docs.select("doc_id", "text"), "doc_id", "text"
    )
    feats = M.extract_features(media, dims=8)
    return feats.select(
        "media_id",
        "n_bytes",
        F.round(F.col("embedding")[0] * 255).cast("long").alias("r_byte"),
        F.round(F.col("embedding")[1] * 255).cast("long").alias("g_byte"),
        F.round(F.col("embedding")[2] * 255).cast("long").alias("b_byte"),
    ).orderBy("media_id")


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode → resize → re-encode → re-decode, hash-checked.

    Solid 16×16 P6 images (md5-colored, as in multimodal_features) go
    through resize_images(8×8) — an actual netpbm parse, nearest-neighbor
    resample, P6 re-encode — then extract_features decodes the NEW payload.
    Nearest-neighbor resampling of a solid image preserves the color
    exactly and the output header is "P6\\n8 8\\n255\\n" (11 bytes) + 192
    raster bytes, so byte length AND recovered color are SQL-predictable;
    any bug in either codec direction breaks the hash."""
    from data_engineer_development_spark.operators import multimodal as M

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    media = M.synth_solid_ppm_media(
        docs.select("doc_id", "text"), "doc_id", "text"
    )
    small = M.resize_images(media, width=8, height=8)
    feats = M.extract_features(small, dims=4)
    return feats.select(
        "media_id",
        "n_bytes",
        F.round(F.col("embedding")[0] * 255).cast("long").alias("r_byte"),
    ).orderBy("media_id")


def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL frame-stream container parse → frame sampling → per-frame
    decode, hash-checked.

    Each document becomes a genuine 3-frame concatenated-P6 stream whose
    frame *i* is solid md5(text + '#f' + i) color
    (synth_ppm_stream_media). sample_frames asks for FOUR frames at 1 s
    intervals — indices 0-2 hit stored frames, index 3 clamps to the last
    stored frame (the real seek semantics) — and each emitted frame is
    re-decoded to its channel means. The oracle recomputes every sampled
    frame's red byte straight from md5 hex with the same clamp, so a bug
    in the container split, the seek/clamp, or either codec direction
    breaks the hash. Composite id (media_id·10 + frame_idx) carries the
    frame key through extract_features losslessly (doc_id < 100,
    frame_idx < 10)."""
    from data_engineer_development_spark.operators import multimodal as M

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    media = M.synth_ppm_stream_media(
        docs.select("doc_id", "text"), "doc_id", "text", n_frames=3
    )
    frames = M.sample_frames(media, interval_ms=1000, duration_ms=4000)
    composite = (
        frames.select(
            (F.col("media_id") * 10 + F.col("frame_idx")).alias("media_id"),
            F.col("frame").alias("payload"),
            F.lit("image/x-portable-pixmap").alias("mime"),
            F.lit(None).cast("string").alias("meta"),
        )
    )
    feats = M.extract_features(composite, dims=4)
    return feats.select(
        (F.col("media_id") / 10).cast("long").alias("doc_id"),
        (F.col("media_id") % 10).cast("long").alias("frame_idx"),
        F.round(F.col("embedding")[0] * 255).cast("long").alias("r_byte"),
    ).orderBy("doc_id", "frame_idx")


# per-frame color = md5(text#fi); sampled index 3 clamps to stored frame 2
_MULTIMODAL_FRAME_SAMPLE_SQL = """
SELECT doc_id, i AS frame_idx,
       CAST(CAST(concat('0x', substr(md5(concat(coalesce(text, ''), '#f',
            CAST(LEAST(i, 2) AS VARCHAR))), 1, 2)) AS INTEGER) AS BIGINT)
           AS r_byte
FROM documents, LATERAL unnest(range(0, 4)) AS u(i)
WHERE doc_id < 100
ORDER BY doc_id, frame_idx
"""


def q_multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode → amplitude features, hash-checked (the audio dual
    of multimodal_features).

    Each document becomes a genuine 16-bit PCM WAV of four constant-
    amplitude segments valued md5(text).digest()[j]*64
    (synth_wav_media); extract_features actually parses the RIFF header
    and PCM frames (operators/codecs.py) and recovers per-chunk
    mean-absolute amplitudes — dyadic rationals the oracle reproduces from
    md5 hex with round(f*512), so a header-offset, endianness, or
    sample-width bug breaks the hash."""
    from data_engineer_development_spark.operators import multimodal as M

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    media = M.synth_wav_media(docs.select("doc_id", "text"), "doc_id", "text")
    feats = M.extract_features(media, dims=4)
    return feats.select(
        "media_id",
        "n_bytes",
        *[
            F.round(F.col("embedding")[j] * 512).cast("long").alias(f"a{j}")
            for j in range(4)
        ],
    ).orderBy("media_id")


# digest byte j = hex pair (2j+1, 2j+2); WAV size = 44-byte RIFF header
# + 64 samples * 2 bytes
_MULTIMODAL_AUDIO_SQL = """
SELECT doc_id AS media_id, CAST(172 AS BIGINT) AS n_bytes,
       CAST(CAST(concat('0x', substr(md5(coalesce(text, '')), 1, 2)) AS INTEGER) AS BIGINT) AS a0,
       CAST(CAST(concat('0x', substr(md5(coalesce(text, '')), 3, 2)) AS INTEGER) AS BIGINT) AS a1,
       CAST(CAST(concat('0x', substr(md5(coalesce(text, '')), 5, 2)) AS INTEGER) AS BIGINT) AS a2,
       CAST(CAST(concat('0x', substr(md5(coalesce(text, '')), 7, 2)) AS INTEGER) AS BIGINT) AS a3
FROM documents WHERE doc_id < 100 ORDER BY media_id
"""


# md5(coalesce(text,'')) mirrors synth_solid_ppm_media's (t or "") null
# handling: a NULL-text doc gets the md5('') color on the Spark side, so
# the oracle must hash the empty string too, not propagate NULL.
_MULTIMODAL_RESIZE_SQL = """
SELECT doc_id AS media_id,
       CAST(11 + 8*8*3 AS BIGINT) AS n_bytes,
       CAST(CAST(concat('0x', substr(md5(coalesce(text, '')), 1, 2)) AS INTEGER) AS BIGINT) AS r_byte
FROM documents WHERE doc_id < 100 ORDER BY media_id
"""


def q_multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload metadata extraction through the SAME mapInPandas
    plumbing as the codec stages — but byte length + content md5 need no
    codec, so this multimodal stage is fully oracle-checked (DuckDB's
    md5(VARCHAR) hashes the identical utf-8 bytes)."""
    from data_engineer_development_spark.operators import multimodal as M

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 100
    )
    media = M.attach_media(
        docs.select("doc_id", F.encode("text", "utf-8").alias("blob")),
        "doc_id",
        "blob",
        "application/octet-stream",
    )
    return M.extract_metadata(media).orderBy("media_id")


_MULTIMODAL_METADATA_SQL = """
SELECT doc_id AS media_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS payload_md5
FROM documents WHERE doc_id < 100 ORDER BY media_id
"""


def q_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom keyed-state sessionization (applyInPandasWithState) proven
    equal to the engine's built-in ``session_window``: the oracle below is
    the SAME gap-sessionization SQL that checks q_session_windows. The
    custom path exists as the template for session logic the builtin can't
    express (per-session models, conditional gaps); state is one open
    session per user, money accumulates in quantized Decimal so the Python
    stage adds no float drift."""
    import uuid as _uuid

    from data_engineer_development_spark.streaming import stream_events
    from data_engineer_development_spark.streaming.stateful import (
        gap_sessions,
    )
    from data_engineer_development_spark.streaming.windows import (
        latest_snapshots,
        run_to_memory_sink,
    )

    ev = stream_events(spark, sf_dir).filter(F.col("user_id") < 15)
    name = f"q_sess_{_uuid.uuid4().hex[:8]}"
    run_to_memory_sink(
        gap_sessions(ev, gap_minutes=10), name, output_mode="update"
    )
    # a session's identity is (user_id, session_start); an open session
    # extended across micro-batches re-emits with a larger n, so keeping the
    # max-n snapshot per session makes the result batch-split-independent
    return latest_snapshots(
        spark.table(name), ["user_id", "session_start"], "n"
    ).orderBy("user_id", "session_start")


_STATEFUL_SESSIONS_SQL = """
WITH e AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL '10 minutes'
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS boundary
  FROM events WHERE user_id < 15
), s AS (
  SELECT user_id, ts, value,
         SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM e
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL '10 minutes' AS session_end,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(20,4))) AS DOUBLE) AS total_value
FROM s GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


def q_manifest_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-file ingest through the registered Python DataSource
    (sources/manifest_source.py): nation is sharded into three TSV files +
    a JSON manifest in scratch space, then read back with one input
    partition per manifest entry — the reference's FTP-manifest model as a
    first-class Spark source. The oracle is plain SELECT over nation: a
    lossless roundtrip IS the check."""
    import json

    from data_engineer_development_spark.cache import local_checkpoint_tracked
    from data_engineer_development_spark.sources.manifest_source import (
        ManifestDataSource,
    )

    spark.dataSource.register(ManifestDataSource)
    rows = (
        load_table(spark, sf_dir, "nation")
        .orderBy("n_nationkey")
        .collect()  # 25-row dim seed: bounded control-plane landing write
    )
    with tempfile.TemporaryDirectory(
        prefix="manifest-", ignore_cleanup_errors=True
    ) as d:
        files = []
        for shard in range(3):
            p = os.path.join(d, f"part-{shard}.tsv")
            with open(p, "w", encoding="utf-8") as fh:
                for r in rows[shard::3]:
                    fh.write(
                        f"{r['n_nationkey']}\t{r['n_name']}\t{r['n_regionkey']}\n"
                    )
            files.append(p)
        mf = os.path.join(d, "manifest.json")
        with open(mf, "w", encoding="utf-8") as fh:
            json.dump({"files": files, "delimiter": "\t"}, fh)
        return local_checkpoint_tracked(
            spark.read.format("manifest")
            .schema("n_nationkey int, n_name string, n_regionkey int")
            .option("manifest", mf)
            .load()
            .orderBy("n_nationkey")
        )[0]


_MANIFEST_SOURCE_SQL = """
SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey
"""


def q_multimodal_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode → perceptual average-hash → dedup buckets, hash-checked.

    Each document becomes a genuine two-color 16×16 P6 image (left half
    md5(text), right half md5(text+'#b') — synth_split_ppm_media);
    image_ahash actually decodes the raster, computes integer luma, 8×8
    block means, thresholds at the global mean and packs the 64-bit hash as
    two 32-bit words. For a half/half image the bitmap is closed-form from
    the two luma values (brighter half's bits set; equal → all clear), so
    the DuckDB oracle predicts BOTH words and the per-hash dedup bucket
    sizes straight from md5 hex — a bug in the codec, luma, block fold,
    threshold, or packing breaks the hash match."""
    from data_engineer_development_spark.operators import multimodal as M

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    media = M.synth_split_ppm_media(
        docs.select("doc_id", "text"), "doc_id", "text"
    )
    hashed = M.image_ahash(media, grid=8)
    w = Window.partitionBy("ahash_hi", "ahash_lo")
    return (
        hashed.withColumn("bucket_size", F.count(F.lit(1)).over(w))
        .select(
            F.col("media_id").alias("doc_id"),
            "ahash_hi",
            "ahash_lo",
            "bucket_size",
        )
        .orderBy("doc_id")
    )


# left/right luma from md5 hex; brighter half's 4-of-each-8 bits set in
# both words (rows 0-3 -> lo, rows 4-7 -> hi, so the words are equal):
# left cols 0-3 -> 0x0F0F0F0F, right cols 4-7 -> 0xF0F0F0F0
_MULTIMODAL_AHASH_SQL = """
WITH g AS (
  SELECT doc_id,
         (299 * CAST(concat('0x', substr(md5(coalesce(text, '')), 1, 2)) AS INTEGER)
          + 587 * CAST(concat('0x', substr(md5(coalesce(text, '')), 3, 2)) AS INTEGER)
          + 114 * CAST(concat('0x', substr(md5(coalesce(text, '')), 5, 2)) AS INTEGER)
         ) // 1000 AS ga,
         (299 * CAST(concat('0x', substr(md5(concat(coalesce(text, ''), '#b')), 1, 2)) AS INTEGER)
          + 587 * CAST(concat('0x', substr(md5(concat(coalesce(text, ''), '#b')), 3, 2)) AS INTEGER)
          + 114 * CAST(concat('0x', substr(md5(concat(coalesce(text, ''), '#b')), 5, 2)) AS INTEGER)
         ) // 1000 AS gb
  FROM documents WHERE doc_id < 100),
h AS (
  SELECT doc_id,
         CAST(CASE WHEN ga > gb THEN 252645135
                   WHEN gb > ga THEN 4042322160 ELSE 0 END AS BIGINT) AS w
  FROM g)
SELECT doc_id, w AS ahash_hi, w AS ahash_lo,
       COUNT(*) OVER (PARTITION BY w) AS bucket_size
FROM h ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Perceptual near-dup image pairs — STAGED for r14 registration: the
# missing half of multimodal_image_ahash (exact-hash buckets only catch
# IDENTICAL images; re-encodes/watermarks land a few bits away). Each
# document renders as a REAL 8×8-block textured P6 (operators/multimodal.
# synth_block_ppm_media: blocks colored from the doc's GROUP = doc_id//4,
# one per-doc perturbed block — the controlled near-dup structure), goes
# through the real decode→aHash path, and pairs within hamming ≤ 3 come
# from the pigeonhole chunk join (dedup.hamming_pairs — never cartesian,
# recall 1 by construction). The oracle recomputes every block value,
# threshold bit and packed word in closed form from the portable md5
# idiom and verifies the pair set against a quadratic join (fixture-scale
# only — the REGISTERED Spark side never goes quadratic).
# --------------------------------------------------------------------------
_AHASH_ND_MAXH = 3


def q_image_ahash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineer_development_spark.operators import dedup as D
    from data_engineer_development_spark.operators import multimodal as M

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select(
            "doc_id",
            # integer div, not /4-then-cast: float division then a long
            # cast happens to truncate the same way for non-negative ids
            # but loses exactness past 2^53 — keep the arithmetic integral
            # like every other cross-engine expression
            F.expr("doc_id div 4").alias("grp"),
            (F.col("doc_id") % 64).alias("pert"),
        )
    )
    media = M.synth_block_ppm_media(docs, "doc_id", "grp", "pert")
    hashed = M.image_ahash(media, grid=8)
    return (
        D.hamming_pairs(
            hashed, "media_id", ["ahash_lo", "ahash_hi"], _AHASH_ND_MAXH, chunks=8
        )
        .select("id1", "id2", F.col("hamming").cast("int").alias("hamming"))
        .orderBy("id1", "id2")
    )


def _ahash_neardup_sql() -> str:
    gval = ("CAST(concat('0x', substr(md5(concat(CAST(grp AS VARCHAR), ':', "
            "CAST(t.k AS VARCHAR))), 1, 15)) AS BIGINT) % 256")
    pval = ("CAST(concat('0x', substr(md5(concat('p:', "
            "CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 256")
    return f"""
WITH d AS (SELECT doc_id, doc_id // 4 AS grp, doc_id % 64 AS pert
           FROM documents WHERE doc_id < 100),
b AS (SELECT doc_id, t.k,
             CASE WHEN t.k = pert THEN {pval} ELSE {gval} END AS v
      FROM d, unnest(generate_series(0, 63)) AS t(k)),
m AS (SELECT doc_id, SUM(v) // 64 AS mean FROM b GROUP BY doc_id),
bits AS (SELECT b.doc_id,
                CAST(COALESCE(SUM(CASE WHEN b.v > m.mean AND b.k < 32
                    THEN (CAST(1 AS BIGINT) << b.k) END), 0) AS BIGINT)
                  AS lo,
                CAST(COALESCE(SUM(CASE WHEN b.v > m.mean AND b.k >= 32
                    THEN (CAST(1 AS BIGINT) << (b.k - 32)) END), 0)
                  AS BIGINT) AS hi
         FROM b JOIN m ON m.doc_id = b.doc_id GROUP BY b.doc_id)
SELECT a.doc_id AS id1, c.doc_id AS id2,
       CAST(bit_count(xor(a.hi, c.hi)) + bit_count(xor(a.lo, c.lo))
            AS INT) AS hamming
FROM bits a JOIN bits c ON a.doc_id < c.doc_id
WHERE bit_count(xor(a.hi, c.hi)) + bit_count(xor(a.lo, c.lo))
      <= {_AHASH_ND_MAXH}
ORDER BY id1, id2
"""


QUERIES = {
    "streaming_running_totals": q_streaming_running_totals,
    "stream_foreachbatch_upsert": q_stream_foreachbatch_upsert,
    "stateful_sessions": q_stateful_sessions,
    "manifest_source": q_manifest_source,
    "kv_store_roundtrip": q_kv_store_roundtrip,
    "multimodal_features": q_multimodal_features,
    "multimodal_resize": q_multimodal_resize,
    "multimodal_metadata": q_multimodal_metadata,
    "multimodal_frame_sample": q_multimodal_frame_sample,
    "multimodal_audio_features": q_multimodal_audio_features,
    "multimodal_image_ahash": q_multimodal_image_ahash,
    # registered r14 (staged r13, tri-SF + ANSI-on parity on record)
    "image_ahash_neardup": q_image_ahash_neardup,
}

# streaming_running_totals is hash-checked as of round 6: the state kernel
# accumulates counts as long and sums in exact Decimal(20,4)
# (streaming/stateful.py), so the final table is independent of micro-batch
# split and pandas batch order and equals the plain GROUP BY below.
# multimodal_features is hash-checked: the payloads are real
# P6 images colored by md5(text) bytes, so the decoded channel means are
# SQL-derivable (hex-pair → int) without the oracle needing a codec; 13 is
# the exact "P6\n16 16\n255\n" header length, so n_bytes checks the encoder
# too. The KV roundtrip's expected output IS plain SQL over nation, so it
# graduates to a full hash-checked oracle.
_MULTIMODAL_FEATURES_SQL = """
SELECT doc_id AS media_id,
       CAST(13 + 16*16*3 AS BIGINT) AS n_bytes,
       CAST(CAST(concat('0x', substr(md5(coalesce(text, '')), 1, 2)) AS INTEGER) AS BIGINT) AS r_byte,
       CAST(CAST(concat('0x', substr(md5(coalesce(text, '')), 3, 2)) AS INTEGER) AS BIGINT) AS g_byte,
       CAST(CAST(concat('0x', substr(md5(coalesce(text, '')), 5, 2)) AS INTEGER) AS BIGINT) AS b_byte
FROM documents WHERE doc_id < 100 ORDER BY media_id
"""

_STREAMING_RUNNING_TOTALS_SQL = """
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(20,4))) AS DOUBLE) AS total_value
FROM events GROUP BY user_id ORDER BY user_id
"""

ORACLE: dict[str, str] = {
    "image_ahash_neardup": _ahash_neardup_sql(),
    "streaming_running_totals": _STREAMING_RUNNING_TOTALS_SQL,
    "stream_foreachbatch_upsert": _FOREACHBATCH_SQL,
    "kv_store_roundtrip": _KV_ROUNDTRIP_SQL,
    "multimodal_features": _MULTIMODAL_FEATURES_SQL,
    "multimodal_resize": _MULTIMODAL_RESIZE_SQL,
    "multimodal_metadata": _MULTIMODAL_METADATA_SQL,
    "multimodal_frame_sample": _MULTIMODAL_FRAME_SAMPLE_SQL,
    "multimodal_audio_features": _MULTIMODAL_AUDIO_SQL,
    "multimodal_image_ahash": _MULTIMODAL_AHASH_SQL,
    "stateful_sessions": _STATEFUL_SESSIONS_SQL,
    "manifest_source": _MANIFEST_SOURCE_SQL,
}
