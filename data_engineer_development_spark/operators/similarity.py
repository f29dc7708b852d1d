"""Similarity search over embedding columns (north-star extension,
SURVEY.md §7.2 item 5): brute-force cosine top-k as the exactness baseline,
exact all-pairs near-dups as a broadcast block-nested-loop, and sign-LSH
bucketing as the candidate key of the streaming near-dup gate and the
bucket histogram.

Dot products are sequential left-folds over the array (``aggregate`` /
DuckDB ``list_reduce`` / numpy ``_seq_dot``): float32 products are exact
in double, and all three engines accumulate in the same order, so cosine
values are bit-identical — the oracle checks the scores, not just the
neighbor ids.

Scale stance:
- brute-force top-k is O(Q·N·d) with the query side broadcast — right
  answer for small Q or as the re-rank stage;
- all-pairs near-dups (float or int8-quantized cosine) broadcast the index
  side up to ``MAX_BROADCAST_ROWS`` and refuse past it; past that ceiling
  the cell-restricted ``semdedup`` family is the path;
- sign-LSH (`bucket_assign`) hashes vectors into 2^planes buckets with
  fixed pseudo-random hyperplanes; candidates share a bucket (equi-join),
  turning 100 TB all-pairs into per-bucket work.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType

from data_engineer_development_spark.cache import track_persist
from data_engineer_development_spark.functions.portable_hash import hyperplane


def _seq_dot(A: "np.ndarray", B: "np.ndarray") -> "np.ndarray":
    """Dot products over the LAST axis as the strictly sequential fold
    ``acc = a0*b0; acc += ad*bd`` — the JVM ``aggregate`` / DuckDB
    ``list_reduce`` order, so every IEEE rounding step matches. Leading
    axes broadcast: ``(n, d)·(n, d)`` is a row-wise dot (``_seq_dot(M, M)``
    the squared norms), ``(m, 1, d)·(1, n, d)`` an m×n block of pairs."""
    acc = A[..., 0] * B[..., 0]
    for d in range(1, A.shape[-1]):
        acc += A[..., d] * B[..., d]
    return acc


def _seq_dot_impl(a: pd.Series, b: pd.Series) -> pd.Series:
    if len(a) == 0:
        return pd.Series([], dtype="float64")
    A = np.vstack(a.to_numpy()).astype(np.float64)
    B = np.vstack(b.to_numpy()).astype(np.float64)
    return pd.Series(_seq_dot(A, B))


_SEQ_DOT = None


def seq_dot(a, b) -> F.Column:
    """Arrow-vectorized dot product with STRICTLY SEQUENTIAL accumulation
    (``_seq_dot``): the same left-fold order as the JVM ``aggregate``
    expression and the DuckDB ``list_reduce`` oracle, while numpy executes
    each step vectorized across the whole Arrow batch (~100× faster than
    interpreting the fold per row).

    (UDF registration is lazy: ``pandas_udf`` needs a live SparkSession.)
    """
    global _SEQ_DOT
    if _SEQ_DOT is None:
        _SEQ_DOT = pandas_udf(_seq_dot_impl, "double")
    return _SEQ_DOT(a, b)


def dot_expr(a: str, b: str) -> F.Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
        f"cast(0.0 as double), (acc, v) -> acc + v)"
    )


def norm_expr(a: str) -> F.Column:
    return F.sqrt(
        F.expr(
            f"aggregate({a}, cast(0.0 as double), "
            f"(acc, x) -> acc + cast(x as double) * cast(x as double))"
        )
    )


#: pairs per scoring task — enough that Arrow batching and numpy vectorization
#: amortize, small enough that tasks stay balanced. Empirically (local[32],
#: 2M pairs) oversubscribing tasks past this costs 6× (JVM Arrow pumps and
#: python workers fight for the same cores).
PAIRS_PER_TASK = 250_000


def _pair_partitions(n_pairs: int, spark) -> int:
    par = spark.sparkContext.defaultParallelism
    return max(1, min((n_pairs + PAIRS_PER_TASK - 1) // PAIRS_PER_TASK, 4 * par))


def cosine_topk(
    vectors: DataFrame,
    query_ids: list[int],
    k: int,
    dims: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors (``vec_id``, ``embedding``) for each
    query id (self excluded). The query side is broadcast; ranking is
    deterministic (score desc, id).

    ``dims``, when set, pins participating vectors to exactly that width
    (oracle-portable callers MUST pin: SQL duals that index 1..dims
    NULL-out shorter vectors but truncate longer ones)."""
    if dims is not None:
        vectors = vectors.filter(F.size("embedding") == dims)
    # The probe side sets the output partitioning of the broadcast join —
    # size it by pair count so the scoring stage neither runs on one task
    # (single-file scan) nor fragments into per-task overhead.
    n_vec = vectors.count()
    parts = _pair_partitions(len(query_ids) * n_vec, vectors.sparkSession)
    # zero-norm exclusion on queries AND candidates (the sim_neardup
    # lesson: 0/0 cosines are NaN, and Spark/DuckDB order NaN differently
    # under DESC — no NaN may reach the row_number ranking)
    q = (
        vectors.filter(F.col("vec_id").isin(query_ids))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            norm_expr("embedding").alias("qn"),
        )
        .filter(F.col("qn") > 0)
    )
    n = (
        vectors.repartition(parts)
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("nv"),
            norm_expr("embedding").alias("nn"),
        )
        .filter(F.col("nn") > 0)
    )
    scored = (
        F.broadcast(q)
        .crossJoin(n)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", seq_dot("qv", "nv") / (F.col("qn") * F.col("nn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "rk", "neighbor_id", "cosine")
    )


def bucket_assign(
    vectors: DataFrame,
    planes: int = 8,
    dims: int = 64,
    plane_offset: int = 0,
    out_col: str = "bucket",
) -> DataFrame:
    """Sign-LSH bucket id of ``embedding``: bit p =
    (v · hyperplane_{plane_offset+p} >= 0). Hyperplanes are fixed
    md5-derived 3-decimal literals (portable to the oracle).
    ``plane_offset`` selects a disjoint slice of the same plane
    family — table t of a multi-table (banded) LSH uses offset t·planes,
    so table 0 is bit-identical to the single-table assignment."""
    bit_cols = []
    for pidx in range(planes):
        w = hyperplane(plane_offset + pidx, dims)
        lits = ", ".join(repr(x) for x in w)
        # Fold over a literal weight array: ((0.0+t1)+t2)+... is bit-identical
        # to the oracle's left-assoc sum (0.0+t1 == t1 exactly), and the
        # expression tree stays small — a flat 512-term sum-of-cases blows
        # Catalyst analysis/codegen time (~40 s of pure plan compilation).
        dot = (
            f"aggregate(zip_with(embedding, array({lits}), "
            f"(x, w) -> cast(x as double) * w), cast(0.0 as double), "
            f"(acc, v) -> acc + v)"
        )
        bit_cols.append(f"(case when ({dot}) >= 0 then {1 << pidx} else 0 end)")
    return vectors.withColumn(out_col, F.expr(" + ".join(bit_cols)))


#: all-pairs ceiling: the index side is broadcast as one numpy matrix
#: (~0.5 GB per million 64-dim float64 vectors); past this the driver
#: collect would be the scale-killer, so both all-pairs scorers refuse.
MAX_BROADCAST_ROWS = 1_000_000


def _block_pairs(
    frame: DataFrame,
    tau: float,
    score,
    with_score: bool,
    width_col: str | None = None,
    dims: int | None = None,
) -> DataFrame:
    """Distributed **block-nested-loop** pairs (id1 < id2, score ≥ tau)
    over ``frame`` = (vec_id, payload...): the whole frame is collected
    and broadcast as numpy (vec_id as int64, array payloads as float64
    matrices, scalar payloads as int64); each task scores its block of
    rows against it INSIDE numpy via ``mapInPandas`` — ``score(a, b)``
    maps the two payload lists to an m×n score matrix — and emits only
    the surviving pairs (plus the score as ``cosine`` when
    ``with_score``). The O(N²) pair set is never materialized as Spark
    rows and never crosses the Arrow boundary. (This mirrors Spark's own
    BroadcastNestedLoopJoin memory shape: the broadcast side must fit per
    executor.) Past ``MAX_BROADCAST_ROWS`` collected rows it raises.

    ``width_col`` pins participants to rows whose ``width_col`` array has
    ``dims`` elements (``dims=None``: the max width collected) on both
    sides; without it mixed widths fail loudly in ``np.vstack``."""
    spark = frame.sparkSession
    out_schema = "id1 long, id2 long" + (", cosine double" if with_score else "")
    rows = frame.collect()  # bounded: the ceiling below
    if len(rows) > MAX_BROADCAST_ROWS:
        # caller-facing contract, not an internal invariant: under
        # `python -O` an assert strips and the oversized corpus would
        # proceed into the O(N²) broadcast (ADVICE r12 #1 class)
        raise ValueError(
            f"all-pairs near-dups are the O(N²) exactness baseline; "
            f"{len(rows)} vectors exceed the {MAX_BROADCAST_ROWS} ceiling"
        )
    if width_col is not None:
        if dims is None:
            dims = max((len(r[width_col]) for r in rows), default=0)
        rows = [r for r in rows if len(r[width_col]) == dims]
        frame = frame.filter(F.size(width_col) == dims)
    if not rows:
        # np.vstack([]) raises; an empty (or all-zero-norm) corpus has no
        # pairs — return the empty result with the contract schema
        return spark.createDataFrame([], out_schema)
    id_col, *cols = frame.columns
    is_mat = [isinstance(frame.schema[c].dataType, ArrayType) for c in cols]

    def decode(columns):
        return [
            np.vstack(c).astype(np.float64) if m else np.asarray(c, np.int64)
            for c, m in zip(columns, is_mat)
        ]

    ids = np.array([r[0] for r in rows], dtype=np.int64)
    bc = spark.sparkContext.broadcast(
        (ids, decode([[r[i + 1] for r in rows] for i in range(len(cols))]))
    )
    parts = _pair_partitions(len(ids) * (len(ids) - 1) // 2, spark)

    def score_blocks(batches):
        b_ids, b = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a_ids = pdf[id_col].to_numpy().astype(np.int64)
            s = score(decode([pdf[c].to_numpy() for c in cols]), b)
            i, j = np.nonzero((a_ids[:, None] < b_ids[None, :]) & (s >= tau))
            out = {"id1": a_ids[i], "id2": b_ids[j]}
            if with_score:
                out["cosine"] = s[i, j]
            yield pd.DataFrame(out)

    return frame.repartition(parts).mapInPandas(score_blocks, out_schema)


def _cos(a, b) -> "np.ndarray":
    """Float cosine block: ``_seq_dot`` over the ``_seq_dot`` norms —
    sqrt(0.0 + x0² + …) is ``norm_expr``'s fold, so the block equals the
    JVM and DuckDB cosine bit-for-bit."""
    (A,), (B,) = a, b
    an, bn = np.sqrt(_seq_dot(A, A)), np.sqrt(_seq_dot(B, B))
    return _seq_dot(A[:, None, :], B[None, :, :]) / (an[:, None] * bn[None, :])


def neardup_pairs_cosine(vectors: DataFrame, tau: float) -> DataFrame:
    """Embedding near-duplicate pairs (``vec_id``, ``embedding``):
    cosine ≥ tau, id1 < id2 — exact, via the ``_block_pairs``
    block-nested-loop (at sf0.1 that's the difference between shipping
    ~1 GB of per-pair arrays JVM→Python and shipping 2 000 input rows + a
    few hundred output rows). Past ``MAX_BROADCAST_ROWS`` non-zero-norm
    vectors it raises ``ValueError``; the cell-restricted ``semdedup``
    family is the scale path.

    All arithmetic is the same sequential left-fold as the JVM
    ``aggregate`` expression and the DuckDB oracle (see ``_seq_dot``), so
    cosine values are bit-identical across all three.

    Zero-norm vectors are EXCLUDED up front: their cosine is 0/0, and the
    three backends disagree on what NaN does to a ``>= tau`` filter
    (numpy: false; Spark SQL and DuckDB: NaN compares greater than
    everything) — filtering is the only semantics all three express
    identically. Mixed vector widths fail loudly in the numpy kernel
    (``np.vstack`` raises) rather than silently NULL-ing like the JVM
    ``zip_with`` would; callers with mixed-width corpora filter to one
    width first (see ``semdedup``'s dims pinning).
    """
    return _block_pairs(
        vectors.filter(norm_expr("embedding") > 0).select("vec_id", "embedding"),
        tau,
        _cos,
        with_score=True,
    )


# --------------------------------------------------------------------------
# SemDeDup: embedding-space near-duplicate removal (Abbas et al. 2023,
# arXiv:2303.09540) — cluster vectors, then drop within-cluster near-dups.
# --------------------------------------------------------------------------
#: Spark's non-ANSI double→bigint cast bounds (the numpy quantizer mimics
#: them exactly for the non-finite corner: NaN → 0, ±inf → clamp).
_LONG_MAX = (1 << 63) - 1
_LONG_MIN = -(1 << 63)


def _quantize_rows(embs, nulls, np=np):
    """(qv_list, qn_list) for a sequence of embedding arrays — the int8
    max-abs grid with Spark-SQL semantics (the reference expression is
    pinned in tests/test_semdedup.py): each element is
    ``cast(floor(cast(x as double) * 127.0 / mx + 0.5) as bigint)`` with
    the same IEEE operation order, ``mx`` is an exact max (order-free),
    and ``qn`` the int64 sum of squares (wrapping like non-ANSI bigint
    math). Rows are grouped by width so the arithmetic is one vectorized
    pass per distinct width.

    ``nulls[i]`` is None or row i's boolean NULL-element positions (the
    element itself arrives as NaN): NULL takes no part in ``mx``
    (``greatest`` skips it), stays NULL in qv and makes qn NULL — except
    when ``mx`` is 0, where the SQL ``if`` yields 0 before reading x."""
    n = len(embs)
    qv_out: list = [None] * n
    qn_out: list = [None] * n
    by_len: dict[int, list[int]] = {}
    arrs: list = [None] * n
    for i, e in enumerate(embs):
        if e is None:
            continue  # NULL array → NULL qv / NULL qn (JVM transform(NULL))
        a = np.asarray(e, dtype=np.float64)  # float32→double: exact
        if nulls[i] is not None:
            a = np.where(nulls[i], 0.0, a)  # 0.0 never raises the max-abs
        arrs[i] = a
        by_len.setdefault(a.shape[0], []).append(i)
    for w, idxs in by_len.items():
        if w == 0:
            # empty array: fold inits — mx 0.0, qv [], qn 0
            for i in idxs:
                qv_out[i] = []
                qn_out[i] = 0
            continue
        M = np.vstack([arrs[i] for i in idxs])
        mx = np.max(np.abs(M), axis=1)
        with np.errstate(all="ignore"):
            Q = np.floor(M * 127.0 / mx[:, None] + 0.5)
        Q = np.where(mx[:, None] == 0.0, 0.0, Q)
        # a finite grid value is within ±128, so the C cast is exact; a
        # non-finite one (NaN/inf input, or x·127 overflowing past
        # ~1.4e306) takes Spark's non-ANSI double→bigint cast instead
        finite = np.isfinite(Q).all(axis=1)
        for r, i in enumerate(idxs):
            if finite[r]:
                qi = Q[r].astype(np.int64)
            else:
                qi = np.array(
                    [
                        0 if x != x
                        else _LONG_MAX if x >= float(_LONG_MAX)
                        else _LONG_MIN if x <= float(_LONG_MIN)
                        else int(x)
                        for x in Q[r]
                    ],
                    dtype=np.int64,
                )
            qv_out[i] = qi.tolist()
            qn_out[i] = int(np.dot(qi, qi))  # int64: wraps like the JVM
            if nulls[i] is not None and mx[r] != 0.0:
                qv_out[i] = [None if m else x for x, m in zip(qv_out[i], nulls[i])]
                qn_out[i] = None
    return qv_out, qn_out


def _qcos(A, aqn, B, bqn) -> "np.ndarray":
    """Quantized cosine matrix: ``A @ B.T`` in float64 over ``sqrt`` of the
    exact integer ``aqn·bqn'`` — the semantic-dedup family's one scoring
    rule (pair truth set, cell scorer, cell kernels, streaming gate).

    Exact, not approximate, on the int8 grid: every product is an
    integer ≤ 127² and every partial sum an integer < 2⁵³, so no BLAS
    accumulation order can round and the Gram equals int64 math. The
    denominator is ONE sqrt over the exact integer product (≤
    (dims·127²)² < 2⁵³), matching the oracle's ``sqrt(CAST(a.qn * b.qn
    AS DOUBLE))`` bit-for-bit; the algebraically equal ``sqrt(qn_a) *
    sqrt(qn_b)`` differs by 1 ulp for ~a third of integer pairs and can
    flip membership for a cosine within an ulp of tau. (Rows saturated
    by the quantizer's overflow corner score in float64 instead of
    wrapping; no engine's oracle defines them.)"""
    den = np.outer(np.asarray(aqn, np.int64), np.asarray(bqn, np.int64))
    gram = np.asarray(A, np.float64) @ np.asarray(B, np.float64).T
    return gram / np.sqrt(den.astype(np.float64))


def _with_quantized(
    vectors: DataFrame, id_col: str, vec_col: str, *extra_cols: str
) -> DataFrame:
    """(id, vec[, extra...], qv, qn): int8 max-abs quantization
    (`operators/inference.py` grid) + integer self-dot — the shared front
    of the semantic-dedup family and the streaming near-dup gate.
    ``extra_cols`` ride along untouched (e.g. a shard key, or the gate's
    event-time column — watermark it on this frame, downstream of the
    Python node).

    One Arrow-batched ``mapInArrow`` pass over ``_quantize_rows``
    (OPTIMIZATION r18 — guide §4.2/§4.4), pinned bit-for-bit against the
    Spark-SQL higher-order-function formulation by
    tests/test_semdedup.py::test_numpy_quantizer_equals_jvm. That SQL
    form is INTERPRETED per row (~0.15 ms/row), and worse, Catalyst
    pushes every downstream ``qn > 0`` filter below the projection by
    INLINING the whole quantization chain into the scan filter —
    re-evaluating the max-abs fold 3× and the qv/qn folds once more per
    row (measured: the 8-row semdedup seed collect cost 2.0 s at sf0.1,
    ~5× the projection itself). The opaque Python node computes each
    quantity exactly once and is a pushdown barrier, so no consumer can
    accidentally multiply it. Arrow rather than pandas because a NULL
    *element* keeps its validity bit in Arrow (pandas turns it into NaN),
    and the other columns pass through without a conversion."""
    df = vectors.select(id_col, vec_col, *extra_cols)
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", qv array<bigint>, qn bigint"

    def quantize(batches):
        import pyarrow as pa

        qv_type = pa.list_(pa.field("element", pa.int64()))
        for rb in batches:
            if not rb.num_rows:
                continue
            emb = rb.column(vec_col)
            offs = emb.offsets.to_numpy()
            valid = emb.is_valid().to_numpy(zero_copy_only=False)
            flat = emb.values.to_numpy(zero_copy_only=False)  # NULL → NaN
            null = emb.values.is_null().to_numpy(zero_copy_only=False)
            spans = list(zip(offs[:-1], offs[1:], valid))
            qv, qn = _quantize_rows(
                [flat[a:b] if ok else None for a, b, ok in spans],
                [null[a:b] if ok and null[a:b].any() else None for a, b, ok in spans],
            )
            yield rb.append_column("qv", pa.array(qv, qv_type)).append_column(
                "qn", pa.array(qn, pa.int64())
            )

    return df.mapInArrow(quantize, out_schema)


def quantized_neardup_pairs(
    vectors: DataFrame,
    tau: float,
    dims: int | None = None,
) -> DataFrame:
    """EXACT near-dup pairs (id1 < id2) of ``vec_id``/``embedding`` on the
    int8-quantized grid — the all-pairs truth set that grades
    ``semdedup``'s cell restriction (``q_semdedup_recall_eval``), same
    role as the exact-Jaccard truth in ``lsh_candidate_recall``.

    The ``_block_pairs`` block-nested-loop of ``neardup_pairs_cosine``
    over the quantized matrix (ids, qv, qn): each task scores its row
    block in ONE ``_qcos`` float64 matmul (exact on the int8 grid — equal
    to the DuckDB oracle bit-for-bit, at BLAS speed).

    O(N²·d) BY DEFINITION (it is the exactness baseline); past
    ``MAX_BROADCAST_ROWS`` non-zero-norm vectors it raises ``ValueError``.
    Zero-norm and off-dims vectors are excluded, as everywhere in the
    family. Callers with an oracle-pinned dimensionality (queries/
    similarity.DIMS) pass ``dims`` explicitly so both engines agree on
    which vectors participate even if the corpus ever mixes widths;
    ``dims=None`` takes the MAX width present in the data (deterministic,
    but data-dependent).
    """
    q = _with_quantized(vectors, "vec_id", "embedding").filter(F.col("qn") > 0)
    return _block_pairs(
        q.select("vec_id", "qv", "qn"),
        tau,
        lambda a, b: _qcos(*a, *b),
        with_score=False,
        width_col="qv",
        dims=dims,
    )


def _assign_cells(
    df: DataFrame, codebooks: dict, shard_col: str | None = None
) -> DataFrame:
    """Add the ``cell`` column: argmax_c cosine(qv, c) with (s DESC,
    cent_id ASC) tie-break, over a ``_with_quantized`` frame.

    ``codebooks`` maps a shard key to that shard's codebook (cent_id, qv,
    qn); each row is scored against the codebook of its ``shard_col``
    value. The one-shot pass has no shard column and a single codebook
    under the key ``None``.

    A ``mapInPandas`` projection (zero shuffle, Arrow-batched) whose plan
    is independent of the codebooks' size and values: they ride to
    executors as a closure capture (K·dims float64 ≈ 0.5 MB per 1k
    centroids at 64 dims), so each Lloyd round's new centroids cost no
    fresh codegen compile. Each chunk scores via one ``_qcos`` matmul,
    and ties go to the lowest cent_id (cents sorted ascending;
    ``np.argmax`` returns the first maximum) — pinned against a
    pure-Python argmax by
    tests/test_semdedup.py::test_numpy_assignment_equals_reference.
    """
    cb = {}
    for key, cents in codebooks.items():
        cents = sorted(cents, key=lambda c: c[0])
        cb[key] = (
            np.array([c[0] for c in cents], dtype=np.int64),
            np.array([c[1] for c in cents], dtype=np.float64),
            np.array([c[2] for c in cents], dtype=np.int64),
        )
    in_cols = df.columns
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", cell long"

    # bound the m×K score matrix per matmul (~32 MB of float64) so huge
    # codebooks don't blow task memory — chunking rows keeps the matmul
    # fully vectorized over K, which is the expensive axis
    k_max = max(len(c[0]) for c in cb.values())
    rows_per_chunk = max(1, 4_000_000 // k_max)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            pdf = pdf[in_cols].reset_index(drop=True)
            qv = pdf["qv"].to_numpy()
            qn = pdf["qn"].to_numpy(dtype=np.int64)
            cells = np.empty(len(pdf), dtype=np.int64)
            groups = (
                pdf.groupby(shard_col).indices.items()
                if shard_col
                else [(None, np.arange(len(pdf)))]
            )
            for key, idx in groups:
                cent_ids, C, cqn = cb[key]
                for lo in range(0, len(idx), rows_per_chunk):
                    rows = idx[lo : lo + rows_per_chunk]
                    s = _qcos(np.vstack(qv[rows]), qn[rows], C, cqn)
                    cells[rows] = cent_ids[np.argmax(s, axis=1)]
            pdf["cell"] = cells
            yield pdf

    return df.mapInPandas(score, out_schema)


def _seed_codebook(
    q: DataFrame, k_cells: int, dims: int | None
) -> tuple[list[tuple[int, list[int], int]], int]:
    """Codebook seed = the K lowest USABLE ids (qn > 0, width match) of a
    ``_with_quantized`` frame. Width pinning happens BEFORE picking
    members: an oracle-pinned caller passes ``dims`` so codebook
    MEMBERSHIP can't drift (the DuckDB side draws its codebook from the
    dims-filtered CTE); with dims=None the lowest usable id defines the
    width, deterministically. Bounded: ≤ k_cells rows collected."""
    cand = q.filter(F.col("qn") > 0).select("vec_id", "qv", "qn")
    if dims is not None:
        cand = cand.filter(F.size("qv") == dims)
    seed_rows = sorted(
        cand.orderBy("vec_id").limit(k_cells).collect(),
        key=lambda r: r["vec_id"],
    )
    if not seed_rows:
        # caller-facing: an empty/zero-norm corpus is a data problem the
        # caller must see even under `python -O` (ADVICE r12 #1 class)
        raise ValueError("semdedup: no usable codebook vectors")
    if dims is None:
        dims = len(seed_rows[0]["qv"])
        seed_rows = [r for r in seed_rows if len(r["qv"]) == dims]
    cents = [
        (int(r["vec_id"]), [int(x) for x in r["qv"]], int(r["qn"]))
        for r in seed_rows
    ]
    return cents, dims


def _lloyd_rounds(
    usable: DataFrame,
    codebooks: dict,
    dims: int,
    train_iters: int,
    shard_col: str | None = None,
) -> dict:
    """``train_iters`` Lloyd rounds on the quantized grid, per codebook
    (keyed as in ``_assign_cells``): assign by the current codebooks
    (projection, no shuffle), per-(shard, cell) elementwise BIGINT sums
    (ONE grouped shuffle, ≤ n_shards·K rows collected), new centroid =
    the ROUNDED INTEGER mean ``floor(sum/n + 0.5)`` per dimension —
    computed as the EXACT integer floor division ``(2·s + n) fld (2·n)``
    (mathematically identical: (2s+n)/(2n) = s/n + 1/2 in the rationals,
    and Python's ``//`` floors), so the trained codebook is
    bit-reproducible and oracle-portable UNCONDITIONALLY — no 2⁵³
    float-precision ceiling on the per-cell sum (VERDICT r10 watchlist
    #1; the earlier ``math.floor(s/n + 0.5)`` was exact only while
    |s| < 2⁵³ ≈ 7×10¹³ rows per cell at int8 quantization). Python ints
    are arbitrary precision; the Spark-side BIGINT sum itself is the
    only overflow surface and |s| ≤ 127·n keeps it exact to n < 7×10¹⁶.
    A cell that empties, or whose mean rounds to the zero vector, keeps
    its previous centroid — shard by shard, so training a shard of
    ``semdedup_sharded`` equals training ``semdedup`` on that shard
    alone."""
    keys = [shard_col] if shard_col else []
    for _ in range(train_iters):
        sums = (
            _assign_cells(usable, codebooks, shard_col)
            .groupBy(*keys, "cell")
            .agg(
                F.count(F.lit(1)).alias("__n"),
                *[
                    F.sum(F.element_at("qv", d + 1)).alias(f"__s{d}")
                    for d in range(dims)
                ],
            )
            .collect()  # bounded: ≤ n_shards·k_cells rows — one per cell
        )
        updated = {}
        for r in sums:
            n = int(r["__n"])
            nqv = [(2 * int(r[f"__s{d}"]) + n) // (2 * n) for d in range(dims)]
            nqn = sum(x * x for x in nqv)
            if nqn > 0:
                key = r[shard_col] if shard_col else None
                updated[(key, int(r["cell"]))] = (nqv, nqn)
        codebooks = {
            key: [
                (cid, *updated.get((key, cid), (cqv, cqn)))
                for cid, cqv, cqn in cents
            ]
            for key, cents in codebooks.items()
        }
    return codebooks


def _dedup_cell(tau: float, keys: dict[str, str]):
    """The per-cell greedy kernel for ``groupBy(...).applyInPandas``: a
    vector's ``dup_of`` is the LOWEST id in its group that covers it at
    quantized cosine ≥ tau (``_qcos`` Gram, exact), ``keep`` = 1 iff
    none does. Output: the id, then each group key column — ``keys``
    maps output name → input column — then ``dup_of`` and ``keep``."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        M = np.vstack(pdf["qv"].to_numpy())
        qn = pdf["qn"].to_numpy(dtype=np.int64)
        # row i covers column j, i < j
        covered = np.triu(_qcos(M, qn, M, qn) >= tau, k=1)
        has_dup = covered.any(axis=0)
        first = covered.argmax(axis=0)  # ids sorted asc → argmax = min id
        dup_of = pd.array(
            [ids[first[j]] if has_dup[j] else None for j in range(len(ids))],
            dtype="Int64",
        )
        return pd.DataFrame(
            {
                "vec_id": ids,
                **{out: pdf[col].to_numpy() for out, col in keys.items()},
                "dup_of": dup_of,
                "keep": (~has_dup).astype(np.int32),
            }
        )

    return kernel


#: Auto-K policy constants (VERDICT r10 #4 — MEASURED, see BASELINE.md
#: round-11 K-sweep table). target_cell sizes the per-cell numpy kernel:
#: an m-row cell costs an m×m float64 Gram + cosine matrix
#: (~16 bytes/pair), so avg cell 1024 → ~16 MB per cell task at the
#: measured ~1.1× fixture skew, comfortably inside an executor core's
#: budget with ~4× headroom for skewier corpora. k_max bounds the
#: CODEBOOK: the numpy assignment scorer's plan cost is independent of
#: K, so the binding constraints are the codebook's closure-capture
#: size (K·dims float64 ≈ 34 MB per task at the clamp, 64 dims) and the
#: K-row Lloyd aggregate. Past the clamp (N > 64 M rows/pass at
#: target 1024) shard the corpus on a coarse key (language/domain/
#: bucket) and semdedup each shard — the warning says so loudly.
SEMDEDUP_TARGET_CELL = 1024
SEMDEDUP_MAX_K = 65536


def auto_k_cells(
    n_rows: int,
    target_cell: int = SEMDEDUP_TARGET_CELL,
    k_min: int = 8,
    k_max: int = SEMDEDUP_MAX_K,
) -> int:
    """The measured K(N) rule for ``semdedup``: ``clamp(ceil(N /
    target_cell), k_min, k_max)``.

    Evidence (BASELINE.md round-11 K sweep, sf0.1 N=2000, iters=2,
    τ=0.4): recall 0.3425 / 0.2558 / 0.1976 at K = 8 / 16 / 32 with
    runtime flat (4.11 / 4.34 / 4.16 s min-of-3) — recall ONLY FALLS as
    K grows and the kernel is nowhere near the bottleneck at fixture
    scale, so K is chosen purely by the per-cell memory bound: the
    smallest K that keeps the expected cell (N/K rows → (N/K)² pair
    matrix) inside a task's budget. At the fixture SFs (N = 500 / 500 /
    2000) the rule gives k_min = 8 — exactly the registered entries'
    oracle constant (pinned by tests/test_semdedup.py) — and first moves
    at N > k_min·target_cell = 8192 rows.
    """
    if n_rows <= 0:
        return k_min
    k = max(k_min, min(k_max, -(-n_rows // target_cell)))
    if n_rows > k_max * target_cell:
        import warnings

        warnings.warn(
            f"semdedup auto-K clamped at k_max={k_max}: N={n_rows} gives "
            f"avg cell {n_rows // k_max} > target {target_cell} and the "
            "per-cell kernel will exceed its memory budget — shard the "
            "corpus on a coarse key (language/domain/LSH bucket) and "
            "semdedup each shard, or raise target_cell knowingly",
            stacklevel=2,
        )
    return k


def semdedup(
    vectors: DataFrame,
    k_cells: int | None = 8,
    tau: float = 0.4,
    dims: int | None = None,
    train_iters: int = 0,
) -> DataFrame:
    """SemDeDup-style semantic dedup: (id, cell, dup_of, keep) per vector.

    The one dedup modality the lexical family (MinHash/SimHash/Jaccard)
    can't express: duplicates in EMBEDDING space. Pipeline, composed from
    three proven pieces:

    1. **Quantize** every vector on the int8 max-abs grid
       (`operators/inference.py` — the oracle-portable quantizer), so all
       dot products are exact BIGINT math and cosines are bit-identical
       across engines (CAST to double is exact: |dot| ≤ 64·127² < 2⁵³).
    2. **Assign to a cell**: the codebook seed is the K LOWEST usable ids
       (deterministic; ``train_iters`` Lloyd rounds — see below — move it
       toward genuine k-means centroids). The codebook is a bounded
       driver-side collect (K rows); assignment is a pure projection over
       the scan — ZERO corpus shuffle, no N×K intermediate, no window —
       via the numpy ``mapInPandas`` scorer (see ``_assign_cells``). At
       100 TB this is the codebook-broadcast pattern every IVF/k-means
       scorer uses.
    3. **Per-cell pairs only, never as Spark rows**: one shuffle groups
       vectors by ``cell``; each cell's pair matrix is scored INSIDE numpy
       (``applyInPandas`` — one ``_qcos`` Gram, exact) and only the
       per-vector verdict comes back. A vector's ``dup_of`` is the LOWEST
       id that covers it at quantized cosine ≥ tau
       (drop-if-any-earlier-neighbor — the same greedy representative rule
       as ``dedup_cleaned_corpus``).
       This mirrors ``neardup_pairs_cosine``'s design rule: the O(Σ|cell|²)
       pair set never materializes as rows and never crosses the Arrow
       boundary. (A first cut as a cell self-equi-join + per-pair JVM
       ``aggregate(zip_with(...))`` was measured 47 s at sf0.1 — Catalyst
       interprets higher-order functions per row; the numpy cell kernel
       reads ~2 s on the identical result.) Work is Σ|cell|² — never
       corpus × corpus; K grows with N to bound cell size (the per-cell
       matrix is m×m doubles, so size K for m in the low thousands).

    ``train_iters`` > 0 runs that many LLOYD ROUNDS on the quantized
    grid before the final assignment (VERDICT r9 #2: id-seeded cells
    measured recall 0.285 at sf0.1/K=8/τ=0.4 — trained centroids lift
    it; see BASELINE.md round-10 notes for the measured numbers). Each
    round: assign by the current codebook (projection, no
    shuffle), per-cell elementwise BIGINT sums (ONE K-group shuffle),
    then the new centroid is the ROUNDED INTEGER mean
    ``floor(sum/n + 0.5)`` per dimension — computed as the exact integer
    floor division ``(2·s + n) fld (2·n)`` on exact int64 sums (no
    float division anywhere), so the trained codebook is
    bit-reproducible and oracle-portable unconditionally: integer
    addition commutes and the rounding never touches IEEE arithmetic,
    with no 2⁵³ ceiling on the per-cell sum. A cell that empties, or whose
    mean rounds to the zero vector, keeps its previous centroid. Per
    round cost at 100 TB: one corpus pass + a K-row collect — the
    standard distributed-k-means shape (cf. PageRank's bounded rounds).

    Vectors that cannot participate in cosine math (dims ≠ codebook dims,
    or an all-zero quantization) are filtered out up front — explicitly,
    identically in the oracle — instead of leaking NaN/NULL orderings.

    Exactness across engines: the numpy path computes the same numbers as
    the SQL oracle because every dot is an integer the float64 matmul
    holds exactly (|dot| ≤ dims·127² < 2⁵³ — see ``_qcos``), and
    sqrt/divide are correctly-rounded IEEE ops on identical inputs.
    """
    q = _with_quantized(vectors, "vec_id", "embedding")
    if k_cells is None:
        # auto-K (measured policy — see auto_k_cells) from the RAW row
        # count: Catalyst serves an unfiltered parquet count from footer
        # metadata (no scan, no quantization pass — .explain shows a
        # LocalTableScan over the aggregated statistics), and a raw count
        # ≥ the usable pool, i.e. an upper bound — exactly what a
        # cell-size BUDGET wants. Counting the qn>0 pool instead would
        # burn a full quantization pass just to pick K.
        k_cells = auto_k_cells(vectors.count())
    cents, dims = _seed_codebook(q, k_cells, dims)

    usable = q.filter((F.size("embedding") == dims) & (F.col("qn") > 0)).select(
        "vec_id", "qv", "qn"
    )
    if train_iters > 0:
        # every Lloyd round + the final assignment re-reads the quantized
        # corpus: persist ONE materialization instead of re-scanning and
        # re-quantizing per round (tracked → released by the sweep's
        # scoped release, not a global clearCache)
        usable = track_persist(usable)

    codebooks = _lloyd_rounds(usable, {None: cents}, dims, train_iters)
    return (
        _assign_cells(usable, codebooks)
        .groupBy("cell")
        .applyInPandas(
            _dedup_cell(tau, {"cell": "cell"}),
            "vec_id long, cell long, dup_of long, keep int",
        )
    )


def semdedup_incremental(
    base: DataFrame,
    new: DataFrame,
    k_cells: int | None = 8,
    tau: float = 0.4,
    dims: int | None = None,
    train_iters: int = 0,
    strict: bool = False,
) -> DataFrame:
    """Incremental SemDeDup: verdicts for a NEW delta against an
    already-compacted BASE — the 100 TB compaction story (you never
    re-dedup the whole corpus; ``dedup_incremental`` is the lexical
    analogue). Returns (id, cell, dup_of, keep) for NEW rows only.

    Semantics = ``semdedup`` under a virtual ordering that places every
    base vector before every new one: a new vector is dropped iff covered
    (quantized cosine ≥ tau, same cell) by ANY base vector (dup_of = the
    lowest covering base id) or, failing that, by a LOWER-ID new vector.
    Base verdicts are never re-opened; base/new ids must be disjoint
    (caller contract — the registry entry splits on md5 parity). The
    per-cell kernel GUARDS the common violation: an id carried on both
    sides with the SAME payload lands in the same cell twice (identical
    vector → identical quantization → identical argmax) and raises
    ``ValueError`` instead of silently emitting the plausible-looking
    self-coverage verdict (cosine 1.0, dup_of = own id). The guard is
    deliberately zero-extra-jobs and therefore NOT exhaustive: an
    overlapping id whose vector CHANGED between sides (a re-embedded
    record) can land in different cells and passes unseen. A caller who
    can't guarantee disjointness passes ``strict=True`` (VERDICT r11
    #5): ONE extra semi-join count up front that raises on ANY id
    overlap — including the changed-vector case the free kernel guard
    can't see — at the cost of one job before any dedup work; the
    default stays False to keep the incremental hot path zero-extra-jobs
    (the registry entry's md5-parity split is disjoint by construction).
    Re-embeds are a delete + insert, not an incremental delta.

    The scale win is what the kernel does NOT compute: per cell the Gram
    work is |base|·|new| + |new|² — never |base|² (on a daily delta
    against a huge corpus, base² IS the cost incremental compaction
    exists to avoid). The codebook is seeded AND Lloyd-trained on BASE
    ONLY, then frozen for assignment of both sides: training on the
    union would move cell boundaries and silently invalidate the base's
    prior verdicts — the same frozen-index discipline every IVF
    compaction uses. Composition caveat (ADVICE r10): chaining passes
    reproduces the one-shot greedy over the union EXACTLY only when the
    base retains ALL prior rows (kept and dropped) and the codebook /
    cell assignment is identical to the one-shot's; a kept-rows-only
    base under a base-trained frozen codebook is an APPROXIMATION — the
    one-shot lets a dropped earlier vector cover a later one and trains
    on the union, so it can drop (or re-cell) a vector this pass keeps.
    """
    if strict:
        # opt-in exhaustive disjointness check: catches a re-embedded id
        # (different vector → possibly different cell) the zero-cost
        # kernel guard below cannot. One bounded job: semi-join on id,
        # fetch at most 10 offenders for the message.
        overlap = (
            new.select("vec_id")
            .join(base.select("vec_id"), "vec_id", "left_semi")
            .limit(10)
            .collect()
        )
        if overlap:
            raise ValueError(
                "semdedup_incremental(strict=True): base/new ids must be "
                f"disjoint; overlapping ids (first 10): "
                f"{sorted(int(r['vec_id']) for r in overlap)} — re-embeds "
                "are a delete + insert, not an incremental delta"
            )
    qb = _with_quantized(base, "vec_id", "embedding")
    if k_cells is None:
        # auto-K from the BASE side's row count (the frozen-codebook
        # side). Metadata-served only when base is an unfiltered scan —
        # a filtered base pays a thin count pass (filter + count, no
        # quantization); callers on the incremental hot path should pass
        # k_cells explicitly (the compacted base's K is already known
        # from the pass that built it — re-deriving it per delta is
        # wasted work AND risks moving cell boundaries).
        k_cells = auto_k_cells(base.count())
    cents, dims = _seed_codebook(qb, k_cells, dims)

    usable_b = qb.filter(
        (F.size("embedding") == dims) & (F.col("qn") > 0)
    ).select("vec_id", "qv", "qn")
    if train_iters > 0:
        usable_b = track_persist(usable_b)
    codebooks = _lloyd_rounds(usable_b, {None: cents}, dims, train_iters)

    qn_ = _with_quantized(new, "vec_id", "embedding")
    usable_n = qn_.filter(
        (F.size("embedding") == dims) & (F.col("qn") > 0)
    ).select("vec_id", "qv", "qn")

    both = _assign_cells(
        usable_b.withColumn("is_new", F.lit(0)).unionByName(
            usable_n.withColumn("is_new", F.lit(1))
        ),
        codebooks,
    ).select("vec_id", "qv", "qn", "cell", "is_new")

    def dedup_cell_incr(pdf: pd.DataFrame) -> pd.DataFrame:
        nd = pdf[pdf["is_new"] == 1].sort_values("vec_id")
        empty = pd.DataFrame(
            {
                "vec_id": pd.Series([], dtype="int64"),
                "cell": pd.Series([], dtype="int64"),
                "dup_of": pd.array([], dtype="Int64"),
                "keep": pd.Series([], dtype="int32"),
            }
        )
        if not len(nd):
            return empty
        ids_n = nd["vec_id"].to_numpy(dtype=np.int64)
        N = np.vstack(nd["qv"].to_numpy())
        nqn = nd["qn"].to_numpy(dtype=np.int64)
        dup = np.full(len(ids_n), -1, dtype=np.int64)

        bd = pdf[pdf["is_new"] == 0]
        if len(bd):
            ids_b = bd["vec_id"].to_numpy(dtype=np.int64)
            # caller-contract guard (ADVICE r10): an id on both sides
            # lands in the SAME cell (identical vector → identical
            # quantization → identical argmax), so checking inside the
            # kernel catches every violation with zero extra Spark jobs
            overlap = np.intersect1d(ids_b, ids_n)
            if len(overlap):
                raise ValueError(
                    "semdedup_incremental: base/new ids must be disjoint; "
                    f"overlapping ids (first 10): {overlap[:10].tolist()}"
                )
            B = np.vstack(bd["qv"].to_numpy())
            bqn = bd["qn"].to_numpy(dtype=np.int64)
            # |base|·|new| scores — the only base work in the whole pass
            cov_b = _qcos(B, bqn, N, nqn) >= tau
            for j in range(len(ids_n)):
                if cov_b[:, j].any():
                    dup[j] = int(ids_b[cov_b[:, j]].min())

        cov_n = np.triu(_qcos(N, nqn, N, nqn) >= tau, k=1)
        for j in range(len(ids_n)):
            # base cover wins (virtual ordering: base < new); else the
            # LOWEST-id covering new vector (ids sorted asc → argmax)
            if dup[j] < 0 and cov_n[:, j].any():
                dup[j] = int(ids_n[cov_n[:, j].argmax()])

        return pd.DataFrame(
            {
                "vec_id": ids_n,
                "cell": nd["cell"].to_numpy(dtype=np.int64),
                "dup_of": pd.array(
                    [None if d < 0 else int(d) for d in dup], dtype="Int64"
                ),
                "keep": (dup < 0).astype(np.int32),
            }
        )

    return both.groupBy("cell").applyInPandas(
        dedup_cell_incr, "vec_id long, cell long, dup_of long, keep int"
    )


#: Guard on the sharded seed collect: shard keys must be LOW-cardinality
#: (language, domain, source) — n_shards·k_cells rows come to the driver.
SHARDED_SEED_MAX_ROWS = 100_000


def semdedup_sharded(
    vectors: DataFrame,
    shard_col: str = "label",
    k_cells: int = 8,
    tau: float = 0.4,
    dims: int | None = None,
    train_iters: int = 0,
) -> DataFrame:
    """Sharded SemDeDup: (id, shard, cell, dup_of, keep) — independent
    semantic dedup PER SHARD, the scale pattern ``auto_k_cells``'s clamp
    warning prescribes for corpora past k_max·target_cell rows.

    Shard on a coarse, semantically-closed key (language / domain /
    source): cross-shard near-dups are rare by construction there, so
    restricting coverage to within-shard loses little recall while
    bounding EVERYTHING per shard — each shard gets its own K-lowest-id
    codebook (seeded via one windowed rank, collected bounded at
    n_shards·k_cells rows and guarded by ``SHARDED_SEED_MAX_ROWS``), the
    assignment is ``semdedup``'s ``_assign_cells`` projection scoring
    each row against ITS shard's codebook (zero corpus shuffle), and
    ``semdedup``'s cell kernel groups by (shard, cell) so the Σ|cell|²
    work is per-shard. A duplicate pair SPLIT ACROSS SHARDS is
    deliberately not detected — that is the shard contract, identical
    to running ``semdedup`` per language.
    Ids must be unique within a shard; the guard enforces this for the
    SEED ZONE only (rank ≤ k_cells per shard — driver-side on rows the
    seed collect already holds, zero extra jobs). A duplicate id
    outside the seed zone passes undetected and its verdict rows are
    ambiguous (ADVICE r12) — full enforcement would cost an extra
    corpus-wide aggregation; callers who can't guarantee uniqueness
    should exact-dedup on (shard, id) first.

    NULL shard keys are excluded with the same loudness as unusable
    vectors (documented, mirrored in the oracle's inner join + IS NOT
    NULL). ``train_iters`` runs per-shard Lloyd rounds (``semdedup``'s
    trainer with the shard key in the aggregate, exact integer means);
    training a shard here equals training ``semdedup`` on that shard
    alone, pinned by the composition test. The staged registry entry
    keeps train_iters=0 (its oracle pins the id-seeded codebook); the
    dedup verdict rule, quantization grid, and tie-breaks are
    byte-identical to ``semdedup``'s either way.
    """
    q = _with_quantized(
        vectors.filter(F.col(shard_col).isNotNull()), "vec_id", "embedding",
        shard_col,
    )
    if dims is None:
        # deterministic width pin: the lowest usable id overall (same
        # rule as _seed_codebook's dims=None path)
        first = (
            q.filter(F.col("qn") > 0)
            .orderBy("vec_id")
            .select(F.size("embedding").alias("w"))
            .limit(1)
            .collect()
        )
        if not first:
            # caller-facing contract (ADVICE r11): raise a real error —
            # plain assert strips under `python -O` and the failure would
            # then surface as an opaque KeyError far from the cause
            raise ValueError("semdedup_sharded: no usable vectors")
        dims = int(first[0]["w"])
    usable = q.filter((F.size("embedding") == dims) & (F.col("qn") > 0)).select(
        "vec_id", shard_col, "qv", "qn"
    )

    rk = F.row_number().over(
        Window.partitionBy(shard_col).orderBy(F.col("vec_id").asc())
    )
    # Seed selection in two phases so the rank shuffle carries only TWO
    # THIN COLUMNS (shard, id) — never the qv arrays; at 100 TB the
    # window's exchange is the dominant cost of seeding and qv is ~100×
    # the width of the key pair. The heavy columns are then fetched by a
    # broadcast semi-join over the (tiny) seed-id set: one pruned scan,
    # zero corpus shuffle. Measured sf0.1: shuffle bytes for the seed
    # stage drop from the full frame to the key pair.
    seed_ids = (
        usable.select(shard_col, "vec_id")
        .withColumn("__rk", rk)
        .filter(F.col("__rk") <= k_cells)
        .select(shard_col, "vec_id")
    )
    # fetch on (shard, id) — not id alone (ADVICE r11): ids are expected
    # globally unique, but if a seed id ALSO exists in another shard an
    # id-only join would inject a non-K-lowest centroid into that shard's
    # codebook and silently diverge from the documented rule/oracle. The
    # composite key makes the fetch correct even then; true duplicates
    # WITHIN a shard are caught by the explicit (shard, id) uniqueness
    # check below.
    seed_rows = (
        usable.join(F.broadcast(seed_ids), [shard_col, "vec_id"])
        .select(shard_col, "vec_id", "qv", "qn")
        .limit(SHARDED_SEED_MAX_ROWS + 1)
        .collect()  # bounded: ≤ n_shards·k_cells rows (guarded below)
    )
    if len(seed_rows) > SHARDED_SEED_MAX_ROWS:
        # caller-facing contract (ADVICE r11): must survive `python -O` —
        # the limit above is already applied, so an assert-stripped run
        # would silently truncate the codebook and KeyError downstream
        raise ValueError(
            "semdedup_sharded: seed collect exceeded SHARDED_SEED_MAX_ROWS"
            f" — shard key '{shard_col}' is too high-cardinality for "
            "per-shard codebooks; shard on a coarser key"
        )
    # id uniqueness WITHIN a shard (review r12): a duplicated id in the
    # seed zone fetches BOTH payload rows through the equi-join (the rank
    # window numbered them 1 and 2 with a nondeterministic tiebreak), so
    # the codebook would silently grow past k_cells with two same-id,
    # possibly different-payload centroids — a hash mismatch with nothing
    # pointing at the cause. The collect above already holds every fetched
    # row, so the check is driver-side and free of extra jobs.
    seed_keys = [(r[shard_col], r["vec_id"]) for r in seed_rows]
    if len(seed_keys) != len(set(seed_keys)):
        from collections import Counter

        dupes = [k for k, c in Counter(seed_keys).items() if c > 1][:10]
        raise ValueError(
            "semdedup_sharded: duplicate ids within a shard's seed zone "
            f"(first 10 (shard, id) offenders: {dupes}) — dedup the "
            "input first. NOTE: uniqueness is enforced for SEED-ZONE ids "
            "only (rank <= k_cells per shard; full enforcement would "
            "cost an extra aggregation job) — a duplicate id outside the "
            "seed zone is not detected here and yields ambiguous "
            "verdict rows for that id"
        )
    cents_by_shard: dict = {}
    for r in sorted(seed_rows, key=lambda r: (r[shard_col], r["vec_id"])):
        cents_by_shard.setdefault(r[shard_col], []).append(
            (int(r["vec_id"]), [int(x) for x in r["qv"]], int(r["qn"]))
        )

    if train_iters > 0:
        usable = track_persist(usable)
    cents_by_shard = _lloyd_rounds(
        usable, cents_by_shard, dims, train_iters, shard_col
    )
    shard_t = usable.schema[shard_col].dataType.simpleString()
    return (
        _assign_cells(usable, cents_by_shard, shard_col)
        .groupBy(shard_col, "cell")
        .applyInPandas(
            _dedup_cell(tau, {"shard": shard_col, "cell": "cell"}),
            f"vec_id long, shard {shard_t}, cell long, dup_of long, "
            "keep int",
        )
    )
