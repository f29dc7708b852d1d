"""Multimodal (image/audio/video) column plumbing (north-star extension).

Media are opaque ``binary`` payloads with a typed metadata struct; decode /
feature-extract / resize / frame-sample run as Arrow-batched ``mapInPandas``
stages. Decoding is REAL for the self-describing uncompressed formats the
engine carries codecs for (PPM/PGM, 24-bit BMP, PCM WAV, concatenated-PPM
frame streams — operators/codecs.py); compressed formats (JPEG/PNG/MP3)
have no decoder in this container, so an undecodable payload raises
``ValueError`` naming the format: a bad corpus fails loudly instead of
silently degrading.

Scale design: payloads never leave the executor (mapInPandas streams Arrow
record batches); feature vectors are fixed-width ``array<float>`` so the
downstream similarity/dedup operators (operators/similarity.py) apply
unchanged; frame sampling explodes rows executor-side with bounded
amplification (frames_per_doc ≤ duration/interval).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: canonical multimodal column convention
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("payload", BinaryType(), True),
        StructField("mime", StringType(), True),
        StructField("meta", StringType(), True),  # JSON sidecar metadata
    ]
)


def attach_media(df: DataFrame, id_col: str, bytes_col: str, mime: str) -> DataFrame:
    """Normalize any (id, binary) pair onto the canonical media schema."""
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.col(bytes_col).cast("binary").alias("payload"),
        F.lit(mime).alias("mime"),
        F.to_json(
            F.struct(F.length(F.col(bytes_col)).alias("n_bytes"))
        ).alias("meta"),
    )


def synth_solid_ppm_media(
    df: DataFrame,
    id_col: str,
    text_col: str,
    width: int = 16,
    height: int = 16,
) -> DataFrame:
    """Fixture encoder: one REAL solid-color P6 payload per row, colored
    (R, G, B) = first three bytes of md5(utf8(text)).

    Because the color is md5-derived, the channel means that
    ``extract_features`` recovers by actually decoding the payload are
    independently computable in plain SQL (DuckDB ``md5`` + hex substring) —
    this is what anchors the real decode path inside the hash-checked oracle
    gate (queries/contract_extras.py: ``multimodal_features``). Encoding
    runs executor-side over Arrow batches like every other media stage.
    """
    from data_engineer_development_spark.operators import codecs

    meta = f'{{"w": {width}, "h": {height}}}'

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            payloads = []
            for t in pdf[text_col]:
                rgb = hashlib.md5((t or "").encode()).digest()[:3]
                px = np.tile(
                    np.frombuffer(rgb, dtype=np.uint8), (height, width, 1)
                )
                payloads.append(codecs.encode_ppm(px))
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "payload": payloads,
                    "mime": ["image/x-portable-pixmap"] * len(payloads),
                    "meta": [meta] * len(payloads),
                }
            )

    return df.mapInPandas(
        run, "media_id long, payload binary, mime string, meta string"
    )


def extract_features(media: DataFrame, dims: int = 64) -> DataFrame:
    """Decode + feature-extract: (media_id, embedding array<float>, n_bytes).

    Decode the payload with the engine's own codecs
    (operators/codecs.py — PPM/BMP/WAV) and derive a fixed-width content
    signature (channel means + grayscale chunk means for images, amplitude
    chunk means for audio), all in [0, 1]. With ``media_id`` renamed
    ``vec_id`` the output is consumable by cosine_topk /
    neardup_pairs_cosine.
    """
    from data_engineer_development_spark.operators import codecs

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            feats = [
                codecs.media_features(p, m, dims)
                for p, m in zip(pdf["payload"], pdf["mime"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "embedding": feats,
                    "n_bytes": [len(p or b"") for p in pdf["payload"]],
                }
            )

    return media.mapInPandas(
        run, "media_id long, embedding array<float>, n_bytes long"
    )


def extract_metadata(media: DataFrame) -> DataFrame:
    """Byte-level metadata extraction: (media_id, n_bytes, payload_md5).

    Unlike the codec stages this one needs NO external library — byte
    length and content hash are real, so this stage runs genuinely
    end-to-end and (because md5-of-utf8-bytes is SQL-expressible in both
    engines) anchors the multimodal mapInPandas plumbing inside the
    hash-checked oracle gate, not just the rows-only check.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            payloads = [p or b"" for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": [len(p) for p in payloads],
                    "payload_md5": [
                        hashlib.md5(p).hexdigest() for p in payloads
                    ],
                }
            )

    return media.mapInPandas(
        run, "media_id long, n_bytes long, payload_md5 string"
    )


def resize_images(media: DataFrame, width: int = 32, height: int = 32) -> DataFrame:
    """Resize: decode (PPM/BMP), nearest-neighbor resample to (width,
    height), re-encode as P6 — every output payload is itself decodable, so
    resize stages compose."""
    from data_engineer_development_spark.operators import codecs

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = []
            for p, m in zip(pdf["payload"], pdf["mime"]):
                decoded = codecs.decode_media(p, m)
                if decoded["kind"] != "image":
                    raise ValueError(
                        f"resize_images got non-image payload (mime={m!r})"
                    )
                out.append(
                    codecs.encode_ppm(
                        codecs.resize_nearest(decoded["pixels"], width, height)
                    )
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": out,
                    "mime": ["image/x-portable-pixmap"] * len(out),
                    "meta": pdf["meta"],
                }
            )

    return media.mapInPandas(
        run, "media_id long, payload binary, mime string, meta string"
    )


def sample_frames(
    media: DataFrame,
    interval_ms: int = 1000,
    duration_ms: int = 5000,
) -> DataFrame:
    """Frame sampling: one row per sampled frame (bounded row amplification,
    duration/interval frames per media).

    Decodes the engine's concatenated-P6 stream container
    (operators/codecs.py:iter_ppm_frames — stored frames are
    ``interval_ms`` apart, a real seek+decode, no ffmpeg needed); sampling
    clamps to the last stored frame when the requested duration outruns the
    stream. Emitted frames are re-encoded P6, so downstream image stages
    (resize, features) apply per-frame unchanged."""
    n_frames = max(1, duration_ms // interval_ms)

    from data_engineer_development_spark.operators import codecs

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids, frame_idx, ts, frames = [], [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                stored = [
                    codecs.encode_ppm(fr)
                    for fr in codecs.iter_ppm_frames(p or b"")
                ]
                if not stored:
                    raise ValueError("empty ppm-stream payload")
                for i in range(n_frames):
                    ids.append(mid)
                    frame_idx.append(i)
                    ts.append(i * interval_ms)
                    frames.append(stored[min(i, len(stored) - 1)])
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "frame_idx": frame_idx,
                    "ts_ms": ts,
                    "frame": frames,
                }
            )

    return media.mapInPandas(
        run, "media_id long, frame_idx int, ts_ms long, frame binary"
    )


def synth_ppm_stream_media(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_frames: int = 3,
    width: int = 16,
    height: int = 16,
) -> DataFrame:
    """Fixture encoder for FRAME STREAMS: one concatenated-P6 container per
    row, ``n_frames`` solid frames, frame *i* colored by the first three
    bytes of md5(utf8(text) + '#f' + i).

    The per-frame md5 derivation makes every sampled frame's channel means
    SQL-predictable (the same anchoring trick as synth_solid_ppm_media),
    so the REAL stream container parse + per-frame decode inside
    sample_frames sits inside the hash-checked oracle gate
    (queries/contract_extras.py: ``multimodal_frame_sample``)."""
    from data_engineer_development_spark.operators import codecs

    meta = f'{{"w": {width}, "h": {height}, "frames": {n_frames}}}'

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            payloads = []
            for t in pdf[text_col]:
                frames = []
                for i in range(n_frames):
                    rgb = hashlib.md5(
                        ((t or "") + f"#f{i}").encode()
                    ).digest()[:3]
                    px = np.tile(
                        np.frombuffer(rgb, dtype=np.uint8),
                        (height, width, 1),
                    )
                    frames.append(codecs.encode_ppm(px))
                payloads.append(b"".join(frames))
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "payload": payloads,
                    "mime": ["video/x-ppm-stream"] * len(payloads),
                    "meta": [meta] * len(payloads),
                }
            )

    return df.mapInPandas(
        run, "media_id long, payload binary, mime string, meta string"
    )


def synth_wav_media(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunks: int = 4,
    samples_per_chunk: int = 16,
) -> DataFrame:
    """Fixture encoder for AUDIO: one REAL 16-bit PCM WAV per row, built as
    ``chunks`` constant-amplitude segments where segment *j*'s sample value
    is md5(utf8(text)).digest()[j] * 64.

    Constant segments make extract_features' chunked mean-absolute-
    amplitude EXACT in SQL: byte*64/32768 = byte/512 is a dyadic rational,
    representable in float32 with no rounding, so the oracle recovers the
    digest byte with round(feature*512) — the audio dual of the
    md5-colored image anchor."""
    from data_engineer_development_spark.operators import codecs

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            payloads = []
            for t in pdf[text_col]:
                digest = hashlib.md5((t or "").encode()).digest()
                samples = np.repeat(
                    np.array(
                        [digest[j] * 64 for j in range(chunks)],
                        dtype=np.int16,
                    ),
                    samples_per_chunk,
                )
                payloads.append(codecs.encode_wav(samples, rate=16000))
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "payload": payloads,
                    "mime": ["audio/wav"] * len(payloads),
                    "meta": ['{"rate": 16000}'] * len(payloads),
                }
            )

    return df.mapInPandas(
        run, "media_id long, payload binary, mime string, meta string"
    )


def synth_split_ppm_media(
    df: DataFrame,
    id_col: str,
    text_col: str,
    width: int = 16,
    height: int = 16,
) -> DataFrame:
    """Fixture encoder: one REAL two-color P6 payload per row — the left
    half is colored by md5(text) and the right half by md5(text + '#b').

    A NON-uniform image is what makes a perceptual hash nontrivial: the
    aHash of a solid image is all-zeros by construction. Like
    synth_solid_ppm_media, the md5-derived colors keep every downstream
    pixel statistic independently computable in plain SQL, anchoring the
    real decode→hash path inside the hash-checked oracle gate.
    """
    from data_engineer_development_spark.operators import codecs

    meta = f'{{"w": {width}, "h": {height}}}'
    half = width // 2

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            payloads = []
            for t in pdf[text_col]:
                s = (t or "").encode()
                left = np.frombuffer(hashlib.md5(s).digest()[:3], np.uint8)
                right = np.frombuffer(
                    hashlib.md5(s + b"#b").digest()[:3], np.uint8
                )
                px = np.empty((height, width, 3), dtype=np.uint8)
                px[:, :half] = left
                px[:, half:] = right
                payloads.append(codecs.encode_ppm(px))
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "payload": payloads,
                    "mime": ["image/x-portable-pixmap"] * len(payloads),
                    "meta": [meta] * len(payloads),
                }
            )

    return df.mapInPandas(
        run, "media_id long, payload binary, mime string, meta string"
    )


def image_ahash(media: DataFrame, grid: int = 8) -> DataFrame:
    """Perceptual average-hash over REAL decoded images: integer luma →
    ``grid``×``grid`` block means → threshold at the global mean → packed
    bitmap. The standard cheap near-duplicate-image key (exact-match or
    small-hamming-match on the hash buckets visually identical images).

    Every step is INTEGER arithmetic (luma = (299R+587G+114B)//1000, block
    mean = sum//count, global mean = sum//n_blocks, strict > threshold), so
    the hash is bit-identical across executors, engines, and BLAS builds —
    a float-mean aHash could flip a threshold-straddling bit between
    platforms and silently split a dedup bucket.

    Emitted as two 32-bit words (``ahash_hi``/``ahash_lo``) rather than one
    int64: bit 63 of a packed uint64 doesn't survive a signed BIGINT round
    trip through Arrow/SQL engines without sign contortions.

    Requires image dimensions divisible by ``grid`` (netpbm fixtures are;
    a production corpus resizes first — resize_images). Scale: one
    mapInPandas pass, payloads never leave the executor; downstream
    grouping shuffles only (id, two ints).
    """
    from data_engineer_development_spark.operators import codecs

    if grid * grid > 64:
        raise ValueError("image_ahash: grid*grid must fit 64 bits")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            his, los = [], []
            for p, m in zip(pdf["payload"], pdf["mime"]):
                img = codecs.decode_media(p, m)
                if img["kind"] != "image":
                    raise ValueError("image_ahash: non-image payload")
                px = img["pixels"].astype(np.int64)
                luma = (
                    299 * px[:, :, 0] + 587 * px[:, :, 1] + 114 * px[:, :, 2]
                ) // 1000
                h, w = luma.shape
                if h % grid or w % grid:
                    raise ValueError(
                        f"image_ahash: {h}x{w} not divisible by grid {grid}"
                    )
                bh, bw = h // grid, w // grid
                blocks = (
                    luma.reshape(grid, bh, grid, bw).sum(axis=(1, 3))
                    // (bh * bw)
                )
                mean = blocks.sum() // (grid * grid)
                bits = (blocks > mean).ravel()  # row-major, k = row*grid+col
                # each 32-bit word gets its own 2^0..2^31 weights — packing
                # all 64 bits into one int64 would need 1<<63, which is
                # already negative in both numpy and SQL BIGINT
                weights = 1 << np.arange(32, dtype=np.int64)
                lo_bits, hi_bits = bits[:32], bits[32:64]
                packed_lo = int((lo_bits * weights[: lo_bits.size]).sum())
                packed_hi = int((hi_bits * weights[: hi_bits.size]).sum())
                his.append(packed_hi)
                los.append(packed_lo)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "ahash_hi": his,
                    "ahash_lo": los,
                }
            )

    return media.mapInPandas(
        run, "media_id long, ahash_hi long, ahash_lo long"
    )


def synth_block_ppm_media(
    df: DataFrame,
    id_col: str,
    group_col: str,
    pert_col: str,
    grid: int = 8,
    block_px: int = 2,
) -> DataFrame:
    """Fixture encoder for PERCEPTUAL NEAR-dup testing: a real P6 image of
    ``grid``×``grid`` solid gray blocks (``block_px``² pixels each) whose
    values derive from the row's GROUP — so all rows of a group render
    near-identical images — except the single block indexed by
    ``pert_col``, which derives from the row id (the per-copy blemish: a
    re-encode artifact / watermark stand-in).

    Block k's gray value is ``md5_60bit('{group}:{k}') % 256`` (the
    portable idiom — ``functions/portable_hash.py``) and the perturbed
    block is ``md5_60bit('p:{id}') % 256``, so a DuckDB oracle can
    recompute every pixel, block mean, threshold bit and the full packed
    aHash in closed form while the Spark side runs the REAL
    encode→decode→hash path. Same-group images differ in ≤2 blocks plus
    any threshold bits the shifted global mean flips — the realistic
    small-hamming structure a banded near-dup join exists for.
    """
    from data_engineer_development_spark.operators import codecs

    side = grid * block_px
    meta = f'{{"w": {side}, "h": {side}}}'

    def _v(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % 256

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            payloads = []
            for rid, grp, pert in zip(
                pdf[id_col], pdf[group_col], pdf[pert_col]
            ):
                vals = np.array(
                    [_v(f"{grp}:{k}") for k in range(grid * grid)],
                    dtype=np.uint8,
                )
                vals[int(pert) % (grid * grid)] = _v(f"p:{rid}")
                px = np.repeat(
                    np.repeat(
                        vals.reshape(grid, grid), block_px, axis=0
                    ),
                    block_px,
                    axis=1,
                )
                payloads.append(
                    codecs.encode_ppm(np.stack([px, px, px], axis=-1))
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "payload": payloads,
                    "mime": ["image/x-portable-pixmap"] * len(payloads),
                    "meta": [meta] * len(payloads),
                }
            )

    return df.mapInPandas(
        run, "media_id long, payload binary, mime string, meta string"
    )

