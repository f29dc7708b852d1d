"""Similarity-search queries over the embeddings table (north-star
extension): exact cosine top-k, all-pairs near-dup, and sign-LSH buckets.

Floating-point parity: every dot product / norm is a SEQUENTIAL left fold
over the array in both engines (Spark ``aggregate`` ↔ DuckDB ``list_reduce``
over a 0-prepended product list), so the accumulation order — and therefore
every rounding step — is identical, and the oracle compares cosine VALUES,
not just neighbor ids. sqrt and division are correctly-rounded IEEE ops on
identical inputs.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineer_development_spark.cache import overlap
from data_engineer_development_spark.functions.portable_hash import (
    duck_md5_int,
    hyperplane,
    spark_md5_int,
)
from data_engineer_development_spark.operators import similarity as S
from data_engineer_development_spark.sources import load_table

DIMS = 64
TOPK = 5
QUERY_IDS = [1, 2, 3, 4, 5]
COSINE_TAU = 0.4
PLANES = 8


def _duck_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(generate_series(1, {DIMS}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), "
        f"(acc, v) -> acc + v)"
    )


def _duck_norm(a: str) -> str:
    return (
        f"sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(generate_series(1, {DIMS}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))), "
        f"(acc, v) -> acc + v))"
    )


def _duck_cosine(a: str, b: str) -> str:
    return f"({_duck_dot(a, b)} / ({_duck_norm(a)} * {_duck_norm(b)}))"


# --------------------------------------------------------------------------
# Exact top-k cosine neighbors (brute force, query side broadcast).
# --------------------------------------------------------------------------
def q_sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = load_table(spark, sf_dir, "embeddings")
    return S.cosine_topk(vecs, QUERY_IDS, TOPK, dims=DIMS).orderBy(
        "query_id", "rk"
    )


def _bf_topk_ctes(query_ids: list[int], k: int) -> str:
    """WITH-chain ending in ``bf_top`` (query_id, neighbor_id, cosine, rk
    ≤ k): the oracle of ``cosine_topk(..., dims=DIMS)``."""
    return f"""bf_q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id IN ({", ".join(map(str, query_ids))})
             AND len(embedding) = {DIMS} AND {_duck_norm('embedding')} > 0),
bf_cand AS (SELECT vec_id, embedding FROM embeddings
         WHERE len(embedding) = {DIMS} AND {_duck_norm('embedding')} > 0),
bf_scored AS (SELECT q.query_id, e.vec_id AS neighbor_id,
                  {_duck_cosine('q.qv', 'e.embedding')} AS cosine
           FROM bf_q q CROSS JOIN bf_cand e WHERE q.query_id <> e.vec_id),
bf_top AS (SELECT * FROM (
             SELECT query_id, neighbor_id, cosine,
                    row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS rk
             FROM bf_scored)
           WHERE rk <= {k})"""


_SIM_TOPK_SQL = f"""
WITH {_bf_topk_ctes(QUERY_IDS, TOPK)}
SELECT query_id, rk, neighbor_id, cosine FROM bf_top
ORDER BY query_id, rk
"""


# --------------------------------------------------------------------------
# All-pairs cosine near-dup (exactness baseline for embedding dedup).
# --------------------------------------------------------------------------
def q_sim_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # dims pin per the operator's contract ("callers with mixed-width
    # corpora filter to one width first") — keeps the entry mixed-width-
    # proof instead of mixed-width-crashing, and identical to the oracle's
    # len() predicate
    vecs = load_table(spark, sf_dir, "embeddings").filter(
        F.size("embedding") == DIMS
    )
    return S.neardup_pairs_cosine(vecs, COSINE_TAU).orderBy("id1", "id2")


_SIM_NEARDUP_SQL = f"""
WITH nd AS (SELECT vec_id, embedding FROM embeddings
            WHERE len(embedding) = {DIMS})
SELECT a.vec_id AS id1, b.vec_id AS id2,
       {_duck_cosine('a.embedding', 'b.embedding')} AS cosine
FROM nd a JOIN nd b ON a.vec_id < b.vec_id
WHERE {_duck_cosine('a.embedding', 'b.embedding')} >= {COSINE_TAU}
  AND {_duck_norm('a.embedding')} > 0 AND {_duck_norm('b.embedding')} > 0
ORDER BY id1, id2
"""


# --------------------------------------------------------------------------
# Sign-LSH bucket histogram (verifies the fixed-hyperplane bucketing math —
# the scale path that replaces all-pairs at 100 TB).
# --------------------------------------------------------------------------
def q_sim_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # width pin: bucket_assign's dims only sizes the hyperplanes — a
    # LONGER vector pads the zip_with with NULL planes (NULL dot → bit 0 →
    # bucket 0 in Spark) where the oracle's embedding[d] indexing silently
    # TRUNCATES to a real bucket. Pinning membership is the only portable
    # semantics (shorter vectors already agree: both engines read bit 0).
    vecs = load_table(spark, sf_dir, "embeddings").filter(
        F.size("embedding") == DIMS
    )
    return (
        S.bucket_assign(vecs, planes=PLANES, dims=DIMS)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vectors"), F.min("vec_id").alias("min_vec_id"))
        .orderBy("bucket")
    )


def _bucket_expr_sql(planes: int, plane_offset: int = 0) -> str:
    """Sign-LSH bucket id as a flat literal expression over ``embedding``
    — bit-identical to ``bucket_assign``'s fold (left-assoc sum; 0.0+t1
    == t1 exactly), shared by the bucket histogram and the streaming
    near-dup gate oracles. ``plane_offset`` selects the disjoint plane
    slice of banded table t (offset t·planes), mirroring
    ``bucket_assign(plane_offset=...)``."""
    bit_cols = []
    for pidx in range(planes):
        w = hyperplane(plane_offset + pidx, DIMS)
        terms = " + ".join(
            f"CAST(embedding[{d + 1}] AS DOUBLE) * ({w[d]!r})" for d in range(DIMS)
        )
        bit_cols.append(f"(CASE WHEN ({terms}) >= 0 THEN {1 << pidx} ELSE 0 END)")
    return " + ".join(bit_cols)


def _lsh_buckets_sql() -> str:
    bucket = _bucket_expr_sql(PLANES)
    return f"""
WITH b AS (SELECT vec_id, {bucket} AS bucket FROM embeddings
           WHERE len(embedding) = {DIMS})
SELECT bucket, count(*) AS n_vectors, min(vec_id) AS min_vec_id
FROM b GROUP BY bucket ORDER BY bucket
"""


# --------------------------------------------------------------------------
# SemDeDup (Abbas et al. 2023): embedding-space dedup — the modality the
# lexical MinHash/SimHash family can't express. Composition of proven
# pieces (operators/similarity.semdedup): int8 quantization (inference
# grid) → literal-codebook cell assignment (zero-shuffle projection) →
# per-cell quantized-cosine pairs (equi-join on cell, never corpus²) →
# drop-if-any-earlier-neighbor representative rule. All dot products are
# exact BIGINT; the one sqrt/divide per pair runs on exactly-representable
# integer inputs, so scores — and therefore the kept set — are
# bit-identical across engines.
# --------------------------------------------------------------------------
_SD_K = 8
_SD_TAU = 0.4
#: Lloyd training rounds for the semantic-dedup codebook. 0 = the raw
#: K-lowest-ids seed (the r9 configuration; measured recall 0.285 at
#: sf0.1/K=8/τ=0.4). The value here is MEASURED, not guessed — the
#: semdedup_recall_eval harness read recall 0.285/0.325/0.343/0.346/0.341
#: at iters 0/1/2/3/4 (sf0.1, K=8, τ=0.4); 2 is the knee (iters=3 buys
#: +0.003 recall for one more corpus pass, 4 regresses — integer-grid
#: Lloyd oscillates). See BASELINE.md round-10 notes.
_SD_ITERS = 2



def _auto_k_pinned(vecs: DataFrame, cache_key: tuple) -> int:
    """Resolve the measured auto-K policy for a registered entry and FAIL
    LOUDLY if it diverges from the static oracles' LIMIT {_SD_K} — a
    bigger fixture would otherwise hash-mismatch three entries with
    nothing pointing at the cause (review r11). The count is the same
    metadata-served upper bound the operator's k_cells=None path uses
    (parquet footer metadata — no scan), re-paid per invocation: no
    module-level state keyed on the fixture path survives between runs
    (VERDICT r17 #5 — the no-precomputation contract)."""
    from data_engineer_development_spark.operators.similarity import (
        auto_k_cells,
    )

    k = auto_k_cells(vecs.count())
    if k != _SD_K:
        raise ValueError(
            f"auto_k_cells resolved to {k} but the registered semdedup "
            f"oracles pin LIMIT {_SD_K}: regenerate the oracle SQL with "
            "the new K (the fixture outgrew k_min*target_cell) instead "
            "of shipping a silent hash mismatch"
        )
    return k


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = load_table(spark, sf_dir, "embeddings")
    # dims pinned to the oracle's constant: both engines must agree on
    # WHICH vectors participate (codebook membership included), not just
    # on the arithmetic — same discipline as bucket_assign(dims=DIMS).
    # the MEASURED auto-K policy (operators/similarity.auto_k_cells,
    # r11) resolves K at runtime; _auto_k_pinned asserts it still equals
    # the static oracles' LIMIT constant so a grown fixture fails loudly
    # instead of hash-mismatching (also pinned at fixture sizes by
    # tests/test_semdedup.py::test_auto_k_matches_oracle_constant...).
    return S.semdedup(
        vecs, k_cells=_auto_k_pinned(vecs, (sf_dir, "full")), tau=_SD_TAU,
        dims=DIMS, train_iters=_SD_ITERS,
    ).orderBy("vec_id")


def _sd_qdot(a: str, b: str) -> str:
    """Exact BIGINT quantized dot, cast to double (shared by the semantic
    dedup oracle and its recall eval — one definition, no drift)."""
    return (
        f"CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(generate_series(1, {DIMS}), i -> {a}.qv[i] * {b}.qv[i])), "
        f"(acc, x) -> acc + x) AS DOUBLE)"
    )


def _sd_assign(src: str, cb: str, name: str) -> str:
    """One codebook-assignment round: score every usable vector against
    codebook ``cb`` (exact BIGINT dot / sqrt of the exact integer norm
    product), argmax with (s DESC, cent_id ASC) tie-break — the same
    ordering the Spark literal-codebook ``array_max`` struct encodes."""
    return f"""sc_{name} AS (SELECT {src}.vec_id, c.cent_id,
              {_sd_qdot(src, 'c')}
              / sqrt(CAST({src}.qn * c.qn AS DOUBLE)) AS s
       FROM {src} CROSS JOIN {cb} c),
{name} AS (SELECT vec_id, cell FROM (
            SELECT vec_id, cent_id AS cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY s DESC, cent_id) AS rk
            FROM sc_{name}) WHERE rk = 1)"""


#: quantize → usable vectors `v` — the family-shared oracle prefix
#: (semantic dedup, its recall eval, and the streaming near-dup gate all
#: draw from the SAME text, so they can never diverge on which vectors
#: participate or on the int8 grid).
_QUANT_CTES = f"""m AS (SELECT vec_id, embedding,
                  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                      list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
                      (acc, v) -> greatest(acc, v)) AS mx
           FROM embeddings),
qz AS (SELECT vec_id,
              list_transform(embedding, x -> CAST(
                  CASE WHEN mx = 0.0 THEN 0.0
                       ELSE floor(CAST(x AS DOUBLE) * 127.0 / mx + 0.5) END
                  AS BIGINT)) AS qv
       FROM m WHERE len(embedding) = {DIMS}),
v AS (SELECT * FROM (
          SELECT vec_id, qv,
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                     list_transform(qv, x -> x * x)),
                     (acc, x) -> acc + x) AS qn
          FROM qz) WHERE qn > 0)"""


def _sd_ctes(iters: int, train_src: str = "v", extra_cte: str = "") -> str:
    """Shared CTE chain (quantize → usable vectors `v` → codebook seed →
    ``iters`` unrolled Lloyd rounds → final cell assignment `asg`) — used
    verbatim by the semantic_dedup oracle AND the recall eval, so the two
    can never diverge on assignment semantics. Mirrors
    ``operators/similarity.semdedup(train_iters=iters)`` exactly: seed =
    K lowest usable ids; each round reassigns then replaces each centroid
    with the per-dimension ROUNDED INTEGER mean ``floor(sum/n + 0.5)``,
    computed as the exact integer floor division ``(2s+n) fld (2n)`` on
    exact BIGINT sums — no float division on either engine, so the
    trained codebook agrees bit-for-bit unconditionally (no 2⁵³ sum
    ceiling); a cell that empties or rounds to the zero vector keeps
    its previous centroid.

    ``train_src``/``extra_cte`` generalize the chain for the INCREMENTAL
    entry: seed + Lloyd run over ``train_src`` (e.g. a base-side ``vb``
    CTE supplied via ``extra_cte``) while the final ``asg`` still covers
    all of ``v`` — the frozen-codebook discipline
    ``operators/similarity.semdedup_incremental`` mirrors. Defaults
    produce the byte-identical text the registered oracles pin."""
    head = _QUANT_CTES if not extra_cte else f"{_QUANT_CTES},\n{extra_cte}"
    parts = [f"""{head},
cb0 AS (SELECT vec_id AS cent_id, qv, qn FROM {train_src}
        ORDER BY vec_id LIMIT {_SD_K})"""]
    for i in range(iters):
        parts.append(_sd_assign(train_src, f"cb{i}", f"asg{i}"))
        parts.append(f"""ag{i} AS (SELECT a.cell, g.d,
              CAST(SUM({train_src}.qv[g.d]) AS BIGINT) AS s, COUNT(*) AS n
       FROM asg{i} a JOIN {train_src} ON {train_src}.vec_id = a.vec_id
       CROSS JOIN generate_series(1, {DIMS}) AS g(d)
       GROUP BY a.cell, g.d),
nc{i} AS (SELECT cell,
              -- exact integer floor(s/n + 0.5) = (2s+n) fld (2n); DuckDB's
              -- // truncates toward zero, so a negative numerator gets the
              -- standard (x - (d-1)) pre-shift — no float division, no 2^53
              -- ceiling on s (mirrors operators/similarity._lloyd_rounds)
              list(CAST((2 * s + n
                         - CASE WHEN 2 * s + n < 0 THEN 2 * n - 1 ELSE 0 END)
                        // (2 * n) AS BIGINT) ORDER BY d) AS qv
       FROM ag{i} GROUP BY cell),
nq{i} AS (SELECT cell, qv,
              list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(qv, x -> x * x)), (acc, x) -> acc + x) AS qn
       FROM nc{i}),
cb{i + 1} AS (SELECT b.cent_id, COALESCE(n.qv, b.qv) AS qv,
                     COALESCE(n.qn, b.qn) AS qn
       FROM cb{i} b LEFT JOIN nq{i} n
         ON n.cell = b.cent_id AND n.qn > 0)""")
    parts.append(_sd_assign("v", f"cb{iters}", "asg"))
    return ",\n".join(parts)


_SD_CTES = _sd_ctes(_SD_ITERS)

_SEMDEDUP_SQL = f"""
WITH {_SD_CTES},
p AS (SELECT bb.vec_id AS id2, MIN(aa.vec_id) AS dup_of
      FROM asg aa JOIN asg bb ON aa.cell = bb.cell AND aa.vec_id < bb.vec_id
      JOIN v va ON va.vec_id = aa.vec_id
      JOIN v vb ON vb.vec_id = bb.vec_id
      WHERE {_sd_qdot('va', 'vb')}
            / sqrt(CAST(va.qn * vb.qn AS DOUBLE)) >= {_SD_TAU}
      GROUP BY bb.vec_id)
SELECT asg.vec_id, asg.cell, p.dup_of,
       CAST(CASE WHEN p.dup_of IS NULL THEN 1 ELSE 0 END AS INT) AS keep
FROM asg LEFT JOIN p ON asg.vec_id = p.id2
ORDER BY asg.vec_id
"""


# --------------------------------------------------------------------------
# SemDeDup recall eval: grade the cell restriction against the EXACT
# all-pairs quantized-cosine truth set — the same "measure, don't guess"
# harness every approximate path in this engine carries (lsh_candidate_
# recall for MinHash banding, ann_recall_eval for IVF). Recall < 1 is the
# designed cost of never doing corpus×corpus; this entry puts a number on
# it so K/τ tuning is evidence-driven. Counts are exact integers; recall
# is one exact-int division — hash-comparable.
# --------------------------------------------------------------------------
def q_semdedup_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = load_table(spark, sf_dir, "embeddings")
    # OPTIMIZATION r18 (guide §2.6 — overlap independent jobs): building
    # the truth side (one bounded collect of the quantized corpus) and
    # the semdedup side (auto-K count + codebook seed + Lloyd collects)
    # are independent eager driver chains until the final join; running
    # them from two driver threads lets each chain's jobs back-fill the
    # other's scheduling gaps. Both DataFrames are identical to the
    # sequential build — only the job submission order changes.
    truth, asg = overlap([
        lambda: S.quantized_neardup_pairs(vecs, _SD_TAU, dims=DIMS),
        lambda: S.semdedup(  # auto-K, loudly pinned to the oracle
            vecs, k_cells=_auto_k_pinned(vecs, (sf_dir, "full")),
            tau=_SD_TAU, dims=DIMS, train_iters=_SD_ITERS,
        ),
    ])
    asg = asg.select("vec_id", "cell")
    a1 = asg.select(F.col("vec_id").alias("id1"), F.col("cell").alias("cell1"))
    a2 = asg.select(F.col("vec_id").alias("id2"), F.col("cell").alias("cell2"))
    return (
        truth.join(a1, "id1")
        .join(a2, "id2")
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            # coalesce: SUM over zero rows is NULL in both engines; the
            # oracle pins 0, so the degenerate empty-truth case agrees
            F.coalesce(
                F.sum(
                    F.when(F.col("cell1") == F.col("cell2"), 1).otherwise(0)
                ),
                F.lit(0),
            ).cast("long").alias("n_within_cell"),
        )
        .select(
            "n_true",
            "n_within_cell",
            (
                F.col("n_within_cell").cast("double")
                / F.expr("nullif(n_true, 0)")
            ).alias("recall"),
        )
    )


_SEMDEDUP_RECALL_SQL = f"""
WITH {_SD_CTES},
t AS (SELECT a.vec_id AS id1, b.vec_id AS id2
      FROM v a JOIN v b ON a.vec_id < b.vec_id
      WHERE {_sd_qdot('a', 'b')}
            / sqrt(CAST(a.qn * b.qn AS DOUBLE)) >= {_SD_TAU}),
j AS (SELECT aa.cell AS cell1, bb.cell AS cell2
      FROM t JOIN asg aa ON t.id1 = aa.vec_id
             JOIN asg bb ON t.id2 = bb.vec_id)
SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
       CAST(COALESCE(SUM(CASE WHEN cell1 = cell2 THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_within_cell,
       CAST(COALESCE(SUM(CASE WHEN cell1 = cell2 THEN 1 ELSE 0 END), 0)
            AS DOUBLE) / NULLIF(COUNT(*), 0) AS recall
FROM j
"""


# --------------------------------------------------------------------------
# Streaming embedding near-dup gate: dedup-at-ingest. Arriving vectors are
# quantized + sign-LSH-bucketed (stateless projections); keyed state per
# bucket holds everything seen, and a vector is ADMITTED only if no
# lower-id same-bucket vector covers it at quantized cosine ≥ τ — the
# family's drop-if-any-earlier-neighbor rule evaluated incrementally
# (streaming/stateful.stream_neardup_gate). The single-table batch dual
# below is exact because the whole source drains in ONE micro-batch
# (assert_single_batch) and the kernel processes each bucket in id order;
# in a real multi-batch run "earlier" means earlier ARRIVAL — the true
# gate semantics. planes=2 at test scale so buckets are big enough to
# reject a meaningful fraction (27/500 at sf0.01); at volume, planes and
# a state TTL are the dials. The registered entry (q_stream_neardup_gate,
# further down) runs the gate under two dials.
# --------------------------------------------------------------------------
_GATE_PLANES = 2


_STREAM_NDGATE_SQL = f"""
WITH {_QUANT_CTES},
bk AS (SELECT v.vec_id, v.qv, v.qn,
              CAST({_bucket_expr_sql(_GATE_PLANES)} AS BIGINT) AS bucket
       FROM v JOIN embeddings e ON e.vec_id = v.vec_id),
p AS (SELECT b.vec_id AS id2, MIN(a.vec_id) AS dup_of
      FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE {_sd_qdot('a', 'b')}
            / sqrt(CAST(a.qn * b.qn AS DOUBLE)) >= {_SD_TAU}
      GROUP BY b.vec_id)
SELECT bk.vec_id, bk.bucket, p.dup_of,
       CAST(CASE WHEN p.dup_of IS NULL THEN 1 ELSE 0 END AS INT) AS admitted
FROM bk LEFT JOIN p ON bk.vec_id = p.id2
ORDER BY bk.vec_id
"""


# --------------------------------------------------------------------------
# Gate recall eval — REGISTERED r11 (net-new; staged in COVERAGE.md r10): the streaming near-dup gate is EXACT within a bucket, so its only
# miss mode is a true near-dup pair split across sign-LSH buckets. This
# entry makes the round-10 offline numpy audit DRIVER-CHECKABLE: fraction
# of the exact quantized truth-set pairs that share a planes=_GATE_PLANES
# bucket — the same measure-don't-guess harness shape as
# lsh_candidate_recall (MinHash banding) and semdedup_recall_eval (cell
# restriction). Pure batch (bucket assignment is a deterministic
# projection — no stream needed to grade it); truth is the O(N²)
# assertion-bounded baseline by definition. Audit values this pins:
# 0.483 at sf0.01 / 0.378 at sf0.1 (BASELINE.md gate recall table).
# --------------------------------------------------------------------------
def q_gate_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = load_table(spark, sf_dir, "embeddings")
    truth = S.quantized_neardup_pairs(vecs, _SD_TAU, dims=DIMS)
    # the gate's participation filter EXACTLY (the oracle's `v` CTE):
    # width pin + genuine quantized qn > 0 — not a cheaper stand-in
    # predicate, so NaN-bearing vectors can never split membership
    # between the engines
    usable = S._with_quantized(vecs, "vec_id", "embedding").filter(
        (F.size("embedding") == DIMS) & (F.col("qn") > 0)
    )
    bk = S.bucket_assign(usable, planes=_GATE_PLANES, dims=DIMS).select(
        "vec_id", "bucket"
    )
    b1 = bk.select(F.col("vec_id").alias("id1"), F.col("bucket").alias("bk1"))
    b2 = bk.select(F.col("vec_id").alias("id2"), F.col("bucket").alias("bk2"))
    return (
        truth.join(b1, "id1")
        .join(b2, "id2")
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.coalesce(
                F.sum(F.when(F.col("bk1") == F.col("bk2"), 1).otherwise(0)),
                F.lit(0),
            ).cast("long").alias("n_same_bucket"),
        )
        .select(
            "n_true",
            "n_same_bucket",
            (
                F.col("n_same_bucket").cast("double")
                / F.expr("nullif(n_true, 0)")
            ).alias("recall"),
        )
    )


_GATE_RECALL_SQL = f"""
WITH {_QUANT_CTES},
t AS (SELECT a.vec_id AS id1, b.vec_id AS id2
      FROM v a JOIN v b ON a.vec_id < b.vec_id
      WHERE {_sd_qdot('a', 'b')}
            / sqrt(CAST(a.qn * b.qn AS DOUBLE)) >= {_SD_TAU}),
bk AS (SELECT v.vec_id,
              CAST({_bucket_expr_sql(_GATE_PLANES)} AS BIGINT) AS bucket
       FROM v JOIN embeddings e ON e.vec_id = v.vec_id),
j AS (SELECT a.bucket AS bk1, b.bucket AS bk2
      FROM t JOIN bk a ON t.id1 = a.vec_id
             JOIN bk b ON t.id2 = b.vec_id)
SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
       CAST(COALESCE(SUM(CASE WHEN bk1 = bk2 THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_same_bucket,
       CAST(COALESCE(SUM(CASE WHEN bk1 = bk2 THEN 1 ELSE 0 END), 0)
            AS DOUBLE) / NULLIF(COUNT(*), 0) AS recall
FROM j
"""


# --------------------------------------------------------------------------
# Incremental SemDeDup — REGISTERED r11 (net-new; staged in COVERAGE.md r10): dedup a NEW delta (md5-parity 1) against an already-compacted
# BASE (parity 0) without ever scoring base×base — the compaction story at
# 100 TB, embedding-space analogue of dedup_incremental. Codebook seeded +
# Lloyd-trained on BASE ONLY, frozen for both sides (training on the union
# would move cell boundaries and invalidate the base's prior verdicts); a
# new vector is dropped iff covered by ANY base vector (dup_of = lowest
# covering base id) or a LOWER-ID new vector. Verdicts for new rows only.
# --------------------------------------------------------------------------
_SD_SPLIT_SPARK = f"{spark_md5_int('cast(vec_id as string)')} % 2"


def _sd_split_duck(col: str = "vec_id") -> str:
    return f"{duck_md5_int(f'CAST({col} AS VARCHAR)')} % 2"


def q_semdedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = load_table(spark, sf_dir, "embeddings")
    side = F.expr(_SD_SPLIT_SPARK)
    base = vecs.filter(side == 0)
    return S.semdedup_incremental(
        base,
        vecs.filter(side == 1),
        # auto-K, loudly pinned to the oracle (memo key: the base split's
        # count differs from the full fixture's)
        k_cells=_auto_k_pinned(base, (sf_dir, "base")),
        tau=_SD_TAU,
        dims=DIMS,
        train_iters=_SD_ITERS,
    ).orderBy("vec_id")


_SEMDEDUP_INCR_SQL = f"""
WITH {_sd_ctes(
    _SD_ITERS,
    train_src="vb",
    extra_cte=f"vb AS (SELECT * FROM v WHERE {_sd_split_duck()} = 0)",
)},
u AS (SELECT asg.vec_id, asg.cell, v.qv, v.qn,
             CAST({_sd_split_duck('asg.vec_id')} AS INT) AS is_new
      FROM asg JOIN v ON v.vec_id = asg.vec_id),
p AS (SELECT b.vec_id AS id2,
             MIN(CASE WHEN a.is_new = 0 THEN a.vec_id END) AS dup_base,
             MIN(CASE WHEN a.is_new = 1 AND a.vec_id < b.vec_id
                      THEN a.vec_id END) AS dup_new
      FROM u a JOIN u b ON a.cell = b.cell AND b.is_new = 1
            AND (a.is_new = 0 OR a.vec_id < b.vec_id)
      WHERE {_sd_qdot('a', 'b')}
            / sqrt(CAST(a.qn * b.qn AS DOUBLE)) >= {_SD_TAU}
      GROUP BY b.vec_id)
SELECT u.vec_id, u.cell,
       COALESCE(p.dup_base, p.dup_new) AS dup_of,
       CAST(CASE WHEN p.id2 IS NULL THEN 1 ELSE 0 END AS INT) AS keep
FROM u LEFT JOIN p ON u.vec_id = p.id2
WHERE u.is_new = 1
ORDER BY u.vec_id
"""


# --------------------------------------------------------------------------
# Banded (multi-table) gate dual — the registered entry's `banded2` dial
# (VERDICT r10 #2): the recall dial the r10 gate audit measured
# (single-table 0.38–0.48 → 0.63–0.72 at tables=2 for +12 % wall).
# Per-table verdicts are folded batch-side AFTER the sink
# (combine_gate_tables — min dup_of / AND admitted). The oracle detects a
# covering pair if the two vectors share a bucket in ANY table (per-table
# bucket columns, OR'd join predicate): min-of-mins over tables equals the
# min over the union of detections, so one flat MIN reproduces the fold
# exactly.
# --------------------------------------------------------------------------
_GATE_TABLES = 2

_BANDED_BUCKETS = ",\n              ".join(
    f"CAST({_bucket_expr_sql(_GATE_PLANES, plane_offset=t * _GATE_PLANES)}"
    f" AS BIGINT) AS b{t}"
    for t in range(_GATE_TABLES)
)
_BANDED_SHARE = " OR ".join(f"a.b{t} = b.b{t}" for t in range(_GATE_TABLES))

_STREAM_NDGATE_BANDED_SQL = f"""
WITH {_QUANT_CTES},
bk AS (SELECT v.vec_id, v.qv, v.qn,
              {_BANDED_BUCKETS}
       FROM v JOIN embeddings e ON e.vec_id = v.vec_id),
p AS (SELECT b.vec_id AS id2, MIN(a.vec_id) AS dup_of
      FROM bk a JOIN bk b ON ({_BANDED_SHARE}) AND a.vec_id < b.vec_id
      WHERE {_sd_qdot('a', 'b')}
            / sqrt(CAST(a.qn * b.qn AS DOUBLE)) >= {_SD_TAU}
      GROUP BY b.vec_id)
SELECT bk.vec_id, p.dup_of,
       CAST(CASE WHEN p.dup_of IS NULL THEN 1 ELSE 0 END AS INT) AS admitted
FROM bk LEFT JOIN p ON bk.vec_id = p.id2
ORDER BY bk.vec_id
"""


# --------------------------------------------------------------------------
# The REGISTERED gate entry — r16 dial fold (VERDICT r15 #7, COVERAGE.md
# rotation policy rule 4): one entry whose output unions two dials under a
# `dial` column, each a REAL streaming run of stream_neardup_gate:
#
# * `banded2` — tables=_GATE_TABLES, folded with combine_gate_tables;
#   oracle _STREAM_NDGATE_BANDED_SQL.
# * `event_ttl` — the replay-safe bounded-state dial (VERDICT r11 #4):
#   single-table, ``event_ttl_ms`` ARMED over a synthetic event-time
#   column (ts = epoch + vec_id seconds, one far-future outlier at the
#   lowest usable id to push the final watermark past every other
#   bucket's horizon). The run is single-data-batch (asserted), so during
#   the data batch the watermark is still 0 and NO state can expire
#   before a verdict is emitted — the output is therefore EXACTLY the
#   batch greedy and the single-table oracle (_STREAM_NDGATE_SQL) pairs
#   it hash-exactly. What the TTL arming buys is a registry entry that
#   executes the event-TTL kernel: withWatermark → EventTimeTimeout
#   plan, setTimeoutTimestamp armed per bucket on every arrival
#   (streaming/stateful.py), and in the trailing no-data micro-batch
#   (no_data_batches=True — load-bearing here) the watermark advances to
#   outlier−delay and every bucket EXCEPT the outlier's deterministically
#   fires hasTimedOut self-expiry (state.remove(), zero rows). Mid-run
#   output-visible eviction (re-admission after expiry) needs multi-batch
#   ingest and stays pinned by tests/test_streaming.py's 3-batch e2e
#   tests — the tick model there depends on file-arrival order, which a
#   registry entry over the fixture tables can't pin deterministically.
#
# OPTIMIZATION r17 (guide §2.6 — overlap independent jobs): the two runs
# are independent and their cost is dominated by stream-start/per-batch
# constants, not CPU, so both are STARTED before either is awaited; each
# query's session confs are frozen at its own .start()
# (start_to_memory_sink), so the differing no-data-batch settings cannot
# leak across. Measured at sf0.1 (isolated min-of-5,
# calibration-bracketed): 6.11 s sequential → 4.46 s concurrent.
# --------------------------------------------------------------------------
_GATE_EVENT_TTL_MS = 10_000
#: epoch ms of 2026-01-01 00:00:00 UTC (fixture-independent constant)
_GATE_TS_BASE_MS = 1_767_225_600_000


def _min_vec_id(spark: SparkSession, sf_dir: str) -> int:
    """The fixture's lowest vec_id — the event-TTL entry's watermark
    outlier. Derived, not hardcoded (ADVICE r12): with a hardcoded 0 a
    regenerated fixture whose ids start elsewhere would still hash-match
    the oracle but silently stop exercising the no-data-batch
    self-expiry path this registration exists to drive. One tiny
    column-pruned min() job, re-paid per invocation (VERDICT r17 #5:
    the former per-sf_dir memo let bench repeats skip the job — a
    cross-run memo keyed on the testdata path, gone on contract)."""
    return int(
        load_table(spark, sf_dir, "embeddings")
        .agg(F.min("vec_id"))
        .collect()[0][0]
    )


def q_stream_neardup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid as _uuid

    from data_engineer_development_spark.streaming.stateful import (
        combine_gate_tables,
        stream_neardup_gate,
    )
    from data_engineer_development_spark.streaming.windows import (
        finish_memory_sink,
        start_to_memory_sink,
        stream_table,
    )

    def start(dial: str, gated: DataFrame, no_data_batches: bool) -> dict:
        return start_to_memory_sink(
            gated, f"q_ndgate_{dial}_{_uuid.uuid4().hex[:8]}",
            output_mode="update", assert_single_batch=True,
            state_partitions=4, no_data_batches=no_data_batches,
        )

    # the banded run starts before the outlier probe's job
    banded = start(
        "banded2",
        stream_neardup_gate(
            stream_table(spark, sf_dir, "embeddings"),
            tau=_SD_TAU, planes=_GATE_PLANES, dims=DIMS, tables=_GATE_TABLES,
        ),
        no_data_batches=False,
    )
    outlier = _min_vec_id(spark, sf_dir)
    src = stream_table(spark, sf_dir, "embeddings").withColumn(
        "ts",
        F.expr(
            # the fixture's lowest id (derived, ADVICE r12) is the
            # outlier (+30 days): the final watermark lands at
            # outlier−1s, far past (max_id seconds + TTL), so every
            # other bucket's timer fires in the no-data batch
            f"timestamp_millis({_GATE_TS_BASE_MS} + CASE WHEN vec_id = "
            f"{outlier} THEN 2592000000 ELSE vec_id * 1000 END)"
        ),
    )
    event_ttl = start(
        "event_ttl",
        stream_neardup_gate(
            src, tau=_SD_TAU, planes=_GATE_PLANES, dims=DIMS,
            event_time_col="ts", event_ttl_ms=_GATE_EVENT_TTL_MS,
            watermark_delay="1 second",
        ),
        no_data_batches=True,
    )
    # every started run is awaited (and its scratch checkpoint cleaned)
    # even when one raises; the first exception re-raises after both
    # settle (ADVICE r17)
    overlap([partial(finish_memory_sink, r) for r in (banded, event_ttl)])
    cols = ["vec_id", "dup_of", "admitted"]
    return (
        combine_gate_tables(spark.table(banded["name"]))
        .select(F.lit("banded2").alias("dial"), *cols)
        .unionByName(
            spark.table(event_ttl["name"])
            .select(F.lit("event_ttl").alias("dial"), *cols)
        )
        .orderBy("dial", "vec_id")
    )


_STREAM_NDGATE_DIALS_SQL = f"""
SELECT 'banded2' AS dial, vec_id, dup_of, admitted
FROM ({_STREAM_NDGATE_BANDED_SQL}) b
UNION ALL
SELECT 'event_ttl' AS dial, vec_id, dup_of, admitted
FROM ({_STREAM_NDGATE_SQL}) s
ORDER BY dial, vec_id
"""


# --------------------------------------------------------------------------
# Sharded SemDeDup — REGISTERED r12 (net-new; staged in COVERAGE.md r11):
# independent semantic dedup PER SHARD (the embeddings
# fixture's label column stands in for language/domain) — the exact scale
# pattern auto_k_cells' clamp warning prescribes once a corpus outgrows
# k_max·target_cell rows. Per-shard K-lowest-id codebooks (one windowed
# rank, bounded collect), one broadcast-numpy assignment projection, pair
# kernel grouped by (shard, cell): Σ|cell|² is bounded PER SHARD and a
# cross-shard duplicate is deliberately out of contract. Verdict rule,
# quantization grid, and tie-breaks byte-identical to semantic_dedup's.
# --------------------------------------------------------------------------
def q_semdedup_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = load_table(spark, sf_dir, "embeddings")
    return S.semdedup_sharded(
        vecs, shard_col="label", k_cells=_SD_K, tau=_SD_TAU, dims=DIMS
    ).orderBy("vec_id")


_SEMDEDUP_SHARDED_SQL = f"""
WITH {_QUANT_CTES},
vl AS (SELECT v.vec_id, v.qv, v.qn, e.label
       FROM v JOIN embeddings e ON e.vec_id = v.vec_id
       WHERE e.label IS NOT NULL),
cb AS (SELECT label, vec_id AS cent_id, qv, qn FROM (
           SELECT vl.*, row_number() OVER (PARTITION BY label
                                           ORDER BY vec_id) AS rk
           FROM vl) WHERE rk <= {_SD_K}),
sc AS (SELECT vl.vec_id, vl.label, c.cent_id,
              {_sd_qdot('vl', 'c')}
              / sqrt(CAST(vl.qn * c.qn AS DOUBLE)) AS s
       FROM vl JOIN cb c ON c.label = vl.label),
asg AS (SELECT vec_id, label, cell FROM (
            SELECT vec_id, label, cent_id AS cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY s DESC, cent_id) AS rk
            FROM sc) WHERE rk = 1),
p AS (SELECT bb.vec_id AS id2, MIN(aa.vec_id) AS dup_of
      FROM asg aa JOIN asg bb
        ON aa.label = bb.label AND aa.cell = bb.cell
       AND aa.vec_id < bb.vec_id
      JOIN vl va ON va.vec_id = aa.vec_id
      JOIN vl vb ON vb.vec_id = bb.vec_id
      WHERE {_sd_qdot('va', 'vb')}
            / sqrt(CAST(va.qn * vb.qn AS DOUBLE)) >= {_SD_TAU}
      GROUP BY bb.vec_id)
SELECT asg.vec_id, asg.label AS shard, asg.cell, p.dup_of,
       CAST(CASE WHEN p.dup_of IS NULL THEN 1 ELSE 0 END AS INT) AS keep
FROM asg LEFT JOIN p ON asg.vec_id = p.id2
ORDER BY asg.vec_id
"""



# --------------------------------------------------------------------------
# Dedup modality overlap — ROUND-12+ REGISTRATION CANDIDATE (staged): how
# much of the near-dup mass each MODALITY catches — lexical (n-gram
# Jaccard ≥ tau on documents.text, the dedup_jaccard machinery verbatim)
# vs semantic (quantized cosine ≥ tau on the aligned embeddings, the
# semdedup truth kernel verbatim) — and how much only ONE sees. This is
# the number a pipeline owner reads before deciding whether to run one
# pass or both: lex-only pairs are boilerplate/near-verbatim text with
# drifted embeddings, sem-only pairs are paraphrases the shingle join
# can never meet. Eval-class (the semantic side is the assertion-bounded
# exact truth block, like every *_recall_eval); counts are exact BIGINTs.
# --------------------------------------------------------------------------
def q_dedup_modality_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_engineer_development_spark.operators import dedup as D
    from data_engineer_development_spark.queries.dedup import (
        JACCARD_TAU,
        _docs_with_shingles,
    )

    docs = _docs_with_shingles(load_table(spark, sf_dir, "documents"))
    lex = (
        D.jaccard_pairs(docs, "doc_id", "sh", JACCARD_TAU)
        .select("id1", "id2")
        .withColumn("is_lex", F.lit(1))
    )
    vecs = load_table(spark, sf_dir, "embeddings")
    sem = (
        S.quantized_neardup_pairs(vecs, _SD_TAU, dims=DIMS)
        .select("id1", "id2")
        .withColumn("is_sem", F.lit(1))
    )
    both = lex.join(sem, ["id1", "id2"], "full")
    z = F.lit(0)
    return both.agg(
        F.coalesce(F.sum("is_lex"), z).cast("long").alias("n_lex"),
        F.coalesce(F.sum("is_sem"), z).cast("long").alias("n_sem"),
        F.coalesce(
            F.sum(F.col("is_lex").isNotNull().cast("int")
                  * F.col("is_sem").isNotNull().cast("int")), z
        ).cast("long").alias("n_both"),
        F.coalesce(
            F.sum((F.col("is_sem").isNull()).cast("int")), z
        ).cast("long").alias("n_lex_only"),
        F.coalesce(
            F.sum((F.col("is_lex").isNull()).cast("int")), z
        ).cast("long").alias("n_sem_only"),
    )


def _modality_overlap_sql() -> str:
    from data_engineer_development_spark.queries.dedup import (
        duck_jaccard_pairs_cte,
    )

    return f"""
WITH {duck_jaccard_pairs_cte()},
{_QUANT_CTES},
sem AS (SELECT a.vec_id AS id1, b.vec_id AS id2
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE {_sd_qdot('a', 'b')}
              / sqrt(CAST(a.qn * b.qn AS DOUBLE)) >= {_SD_TAU}),
u AS (SELECT COALESCE(l.id1, sm.id1) AS id1,
             (l.id1 IS NOT NULL) AS is_lex,
             (sm.id1 IS NOT NULL) AS is_sem
      FROM vp l FULL JOIN sem sm
        ON l.id1 = sm.id1 AND l.id2 = sm.id2)
SELECT CAST(COALESCE(SUM(CASE WHEN is_lex THEN 1 END), 0) AS BIGINT) AS n_lex,
       CAST(COALESCE(SUM(CASE WHEN is_sem THEN 1 END), 0) AS BIGINT) AS n_sem,
       CAST(COALESCE(SUM(CASE WHEN is_lex AND is_sem THEN 1 END), 0)
            AS BIGINT) AS n_both,
       CAST(COALESCE(SUM(CASE WHEN is_lex AND NOT is_sem THEN 1 END), 0)
            AS BIGINT) AS n_lex_only,
       CAST(COALESCE(SUM(CASE WHEN is_sem AND NOT is_lex THEN 1 END), 0)
            AS BIGINT) AS n_sem_only
FROM u
"""


QUERIES = {
    "sim_cosine_topk": q_sim_cosine_topk,
    "sim_neardup": q_sim_neardup,
    "sim_lsh_buckets": q_sim_lsh_buckets,
    "semantic_dedup": q_semantic_dedup,
    "semdedup_recall_eval": q_semdedup_recall_eval,
    "stream_neardup_gate": q_stream_neardup_gate,
    "semdedup_incremental": q_semdedup_incremental,
    "semdedup_sharded": q_semdedup_sharded,
    "gate_recall_eval": q_gate_recall_eval,
    # registered r14 (staged r11, tri-SF + ANSI-on parity on record)
    "dedup_modality_overlap": q_dedup_modality_overlap,
}

ORACLE = {
    "dedup_modality_overlap": _modality_overlap_sql(),
    "sim_cosine_topk": _SIM_TOPK_SQL,
    "sim_neardup": _SIM_NEARDUP_SQL,
    "sim_lsh_buckets": _lsh_buckets_sql(),
    "semantic_dedup": _SEMDEDUP_SQL,
    "semdedup_recall_eval": _SEMDEDUP_RECALL_SQL,
    # both dials' batch duals, dial-tagged; the event_ttl side's
    # single-table greedy is exact because its run is single-data-batch
    # (see q_stream_neardup_gate's block comment)
    "stream_neardup_gate": _STREAM_NDGATE_DIALS_SQL,
    "semdedup_incremental": _SEMDEDUP_INCR_SQL,
    "semdedup_sharded": _SEMDEDUP_SHARDED_SQL,
    "gate_recall_eval": _GATE_RECALL_SQL,
}
