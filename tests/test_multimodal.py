"""Multimodal plumbing: schemas, real-codec e2e, loud failure on
undecodable payloads, perceptual hashes and their hamming join."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_engineer_development_spark.operators import codecs
from data_engineer_development_spark.operators import multimodal as M
from data_engineer_development_spark.operators.similarity import cosine_topk
from data_engineer_development_spark.sources import load_table
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    return (
        load_table(spark, SF_SMOKE, "documents")
        .filter(F.col("doc_id") < 20)
        .select("doc_id", "text")
    )


@pytest.fixture(scope="module")
def media(spark, docs):
    """Real P6 payloads, one per document (the oracle-checked fixture)."""
    return M.synth_solid_ppm_media(docs, "doc_id", "text")


@pytest.fixture(scope="module")
def opaque_media(spark, docs):
    """Undecodable payloads (raw utf-8 text) for the fail-loudly path."""
    return M.attach_media(
        docs.select("doc_id", F.encode("text", "utf-8").alias("blob")),
        "doc_id",
        "blob",
        "application/octet-stream",
    )


def test_attach_media_schema(opaque_media):
    assert [f.name for f in opaque_media.schema.fields] == [
        "media_id", "payload", "mime", "meta",
    ]
    assert opaque_media.count() == 20


def test_synth_media_payloads_are_real_ppm(media):
    rows = media.collect()
    assert len(rows) == 20
    for r in rows:
        px = codecs.decode_ppm(bytes(r["payload"]))
        assert px.shape == (16, 16, 3)
        # solid color by construction
        assert len({tuple(p) for p in px.reshape(-1, 3)}) == 1


def test_extract_features_real_decode_matches_md5(media, docs):
    """The distributed decode recovers exactly the md5-derived color."""
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    feats = M.extract_features(media, dims=8).collect()
    assert len(feats) == 20
    for r in feats:
        rgb = hashlib.md5((texts[r["media_id"]] or "").encode()).digest()[:3]
        got = [round(float(r["embedding"][i]) * 255) for i in range(3)]
        assert got == list(rgb)
        assert len(r["embedding"]) == 8
        assert r["n_bytes"] == 13 + 16 * 16 * 3


def test_features_feed_similarity_ops(media):
    feats = M.extract_features(media, dims=16).select(
        F.col("media_id").alias("vec_id"), F.col("embedding")
    )
    ids = [r["vec_id"] for r in feats.limit(2).collect()]
    topk = cosine_topk(feats, ids, k=3).collect()
    assert len(topk) == 2 * 3


def test_resize_real_reencodes_decodable_ppm(media):
    resized = M.resize_images(media, width=8, height=8)
    rows = resized.collect()
    for r in rows:
        px = codecs.decode_ppm(bytes(r["payload"]))
        assert px.shape == (8, 8, 3)
        assert r["mime"] == "image/x-portable-pixmap"
    # resize of a solid image preserves the color exactly
    orig = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    for r in rows:
        assert np.array_equal(
            codecs.decode_ppm(bytes(r["payload"]))[0, 0],
            codecs.decode_ppm(orig[r["media_id"]])[0, 0],
        )


def test_sample_frames_real_ppm_stream(spark):
    """Frame sampling over the concatenated-P6 container decodes the actual
    stored frames at the right offsets."""
    frames = [
        np.full((4, 4, 3), i * 40, dtype=np.uint8) for i in range(3)
    ]
    stream = b"".join(codecs.encode_ppm(f) for f in frames)
    df = spark.createDataFrame(
        [(1, bytearray(stream), "video/x-ppm-stream", "{}")],
        "media_id long, payload binary, mime string, meta string",
    )
    out = M.sample_frames(df, interval_ms=1000, duration_ms=5000)
    rows = sorted(out.collect(), key=lambda r: r["frame_idx"])
    assert [r["ts_ms"] for r in rows] == [0, 1000, 2000, 3000, 4000]
    # frames 0..2 are the stored ones; 3,4 clamp to the last stored frame
    for r in rows:
        px = codecs.decode_ppm(bytes(r["frame"]))
        expect = min(r["frame_idx"], 2) * 40
        assert int(px[0, 0, 0]) == expect


def test_undecodable_payload_fails_loudly(opaque_media):
    """Real path on a codec-less format must raise, not silently fake."""
    with pytest.raises(Exception, match="no codec"):
        M.extract_features(opaque_media).collect()


def test_image_ahash_gradient_matches_reference(spark):
    """A horizontal-gradient image exercises every aHash stage with a
    NON-closed-form bitmap (unlike the two-color oracle fixture): the hash
    must equal an independently-computed reference from the same pixels."""
    h = w = 16
    col_vals = np.arange(w, dtype=np.uint8) * 16  # 0,16,...,240 per column
    px = np.zeros((h, w, 3), dtype=np.uint8)
    px[:, :, 0] = col_vals
    px[:, :, 1] = col_vals
    px[:, :, 2] = col_vals
    payload = codecs.encode_ppm(px)
    media = spark.createDataFrame(
        [(1, bytearray(payload), "image/x-portable-pixmap", None)],
        "media_id long, payload binary, mime string, meta string",
    )
    row = M.image_ahash(media, grid=8).collect()[0]

    # independent reference: gray column value = luma of (v,v,v) = v; each
    # 2x2 block spans two adjacent columns -> mean (2v+2(v+16))//4 = v+8
    luma = col_vals.astype(np.int64)  # (299+587+114)//1000 of (v,v,v) = v
    blocks = (luma.reshape(8, 2).sum(axis=1) * 2) // 4  # per block-column
    grid = np.tile(blocks, (8, 1))
    mean = grid.sum() // 64
    bits = (grid > mean).ravel()
    lo = int(sum(1 << k for k in range(32) if bits[k]))
    hi = int(sum(1 << k for k in range(32) if bits[32 + k]))
    assert (row["ahash_lo"], row["ahash_hi"]) == (lo, hi)
    assert 0 < bits.sum() < 64  # the fixture is genuinely non-trivial


def test_image_ahash_identical_images_bucket_together(spark, media):
    """Byte-identical payloads must land in one bucket (hash equality) and
    different-colored solids in different... no — solids are all-zero
    bitmaps by construction, so they MUST all collide: the all-equal case
    documents why the oracle fixture uses two-color images instead."""
    hashed = M.image_ahash(media, grid=8).collect()
    assert all(r["ahash_hi"] == 0 and r["ahash_lo"] == 0 for r in hashed)


def test_image_ahash_rejects_bad_grid():
    with pytest.raises(ValueError, match="64 bits"):
        M.image_ahash(None, grid=16)


@pytest.mark.parametrize(
    "words,chunks,bad_chunks",
    # bad: 3 chunks don't split 32 bits evenly; 1 chunk of 64 bits spans
    # both words
    [(["simhash"], 4, 3), (["ahash_lo", "ahash_hi"], 8, 1)],
    ids=["one_word", "two_word"],
)
def test_ahash_close_pairs_matches_bruteforce_and_never_cartesian(
    spark, words, chunks, bad_chunks
):
    """The pigeonhole chunk join must return EXACTLY the brute-force
    hamming ≤ H pair set (recall 1 by construction) for both hash shapes
    — the 32-bit one-word SimHash as dedup_simhash_pairs calls it and the
    64-bit two-word aHash — and its physical plan must contain no
    cartesian/nested-loop join. A broken pigeonhole precondition raises
    ValueError (an assert would vanish under ``python -O``)."""
    import random

    from data_engineer_development_spark.operators.dedup import hamming_pairs

    bits = 32 * len(words)
    rng = random.Random(131)
    base = rng.getrandbits(bits)
    hashes = []
    for _ in range(60):
        h = base
        for _ in range(rng.randrange(0, 6)):  # flip 0..5 random bits
            h ^= 1 << rng.randrange(bits)
        hashes.append(h)
    rows = [
        (i, *[(h >> (32 * w)) & 0xFFFFFFFF for w in range(len(words))])
        for i, h in enumerate(hashes)
    ]
    df = spark.createDataFrame(
        rows, ", ".join(["media_id long"] + [f"{w} long" for w in words])
    )

    pairs = hamming_pairs(df, "media_id", words, max_hamming=3, chunks=chunks)
    got = {(r["id1"], r["id2"], r["hamming"]) for r in pairs.collect()}
    want = {
        (i, j, d)
        for i in range(len(hashes))
        for j in range(i + 1, len(hashes))
        if (d := bin(hashes[i] ^ hashes[j]).count("1")) <= 3
    }
    assert got == want and want
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan and "NestedLoop" not in plan

    with pytest.raises(ValueError, match="pigeonhole"):
        hamming_pairs(df, "media_id", words, max_hamming=chunks, chunks=chunks)
    with pytest.raises(ValueError, match="chunks"):
        hamming_pairs(df, "media_id", words, max_hamming=0, chunks=bad_chunks)


def test_image_ahash_neardup_oracle_parity_and_group_structure(spark):
    """Staged r14 candidate: tri-SF parity is checked at both fixture SFs
    here (sf0.1 in the pre-registration sweep); the pair set must be
    dominated by same-group pairs (the synthetic near-dup structure) and
    every reported hamming must be ≤ the cutoff."""
    from conftest import SF_CORRECT, SF_SMOKE

    from data_engineer_development_spark.queries.contract_extras import (
        _AHASH_ND_MAXH,
        _ahash_neardup_sql,
        q_image_ahash_neardup,
    )
    from tests.oracle_harness import compare

    for sf_dir in (SF_SMOKE, SF_CORRECT):
        ok, msg = compare(
            spark, sf_dir, "image_ahash_neardup",
            q_image_ahash_neardup, _ahash_neardup_sql(),
        )
        assert ok, f"{sf_dir}: {msg}"
    rows = q_image_ahash_neardup(spark, SF_CORRECT).collect()
    assert rows
    same_group = [r for r in rows if r["id1"] // 4 == r["id2"] // 4]
    assert len(same_group) > len(rows) // 2  # the planted structure wins
    assert all(0 <= r["hamming"] <= _AHASH_ND_MAXH for r in rows)
